package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's incremental semantics.
  *
  * The reference is scheduled batch (SURVEY.md §2.9): newest-first
  * bounded scrape + idempotent upsert per run. Its streaming-native
  * re-expression:
  *  - micro-batch upsert = `foreachBatch` + [[graft.etl.Load.merge]]
  *    (the `ON CONFLICT` merge per micro-batch),
  *  - cross-run dedup = `dropDuplicatesWithinWatermark` on the key,
  *  - the event-time operators (tumbling window, session window) as
  *    watermarked streaming aggregations.
  *
  * Scale notes: all state here is keyed and watermark-bounded — state
  * store size is O(active keys in watermark horizon), independent of
  * stream length; shuffles are on the aggregation keys only.
  */
object StreamingOps {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)
  case class SessionState(start_us: Long, end_us: Long, n: Long)
  case class SessionsState(sessions: Seq[SessionState])

  /** Watermarked tumbling 5-minute counts per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Watermarked hopping counts (10-minute windows every 5 minutes) —
    * the streaming twin of the batch [[graft.ops.SqlOps.eventsHopping]].
    * Spark's sliding `window(ts, size, slide)` expands each row into
    * its size/slide = 2 containing windows before the watermarked
    * aggregation — the same 2× row duplication the batch op pays with
    * its shifted-grid union; state is one count per (window, type)
    * inside the watermark horizon. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"))

  /** Native session windows (30-minute gap): the built-in streaming
    * equivalent of the batch lag/cumsum sessionization. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"))

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * escape hatch for session logic the built-in window can't express
    * (here: emit count + exact first/last event time per session).
    *
    * State is a LIST of open sessions per key, not a single current
    * session: an out-of-order event (late but inside the watermark) may
    * precede the open session by more than the gap, in which case it is
    * its own session — a single-session state could only absorb it
    * (widening across a silence longer than the gap) or corrupt the
    * open one. Each event enters as a singleton and the sorted list is
    * coalesced by gap-overlap, so a late event that BRIDGES two open
    * sessions also merges them (the session_window merge semantics). A
    * session is emitted only once the watermark has passed end+gap —
    * before that a late event could still extend it; after it no event
    * can (later-arriving ones are watermark-dropped upstream). */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionsState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val merged =
            if (state.hasTimedOut) prior
            else {
              val withNew = prior ++
                evs.map(e => e.ts.getTime * 1000L).map(us => SessionState(us, us, 1))
              withNew.sortBy(s => (s.start_us, s.end_us))
                .foldLeft(List.empty[SessionState]) { (acc, s) =>
                  acc match {
                    case h :: t if s.start_us - h.end_us <= gapUs =>
                      SessionState(h.start_us, math.max(h.end_us, s.end_us), h.n + s.n) :: t
                    case _ => s :: acc
                  }
                }.reverse
            }
          // closed = no future event can extend it: STRICTLY behind
          // the watermark, because an event with ts exactly == the
          // watermark is still admissible (the late filter drops only
          // ts < watermark) and by the merge rule above would join a
          // session whose end+gap == its ts — closing at <= would emit
          // that session one event early, making output depend on
          // micro-batch boundary timing. Emitted here whether we got
          // here via timeout or via new events — a timeout timestamp
          // in the past cannot be re-armed, so closed sessions must
          // never stay in state.
          val (closed, open) = merged.partition(s => s.end_us + gapUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsState(open))
            // earliest possible close among open sessions, ceil'd to
            // ms; clamp strictly above the current watermark (an open
            // session may sit exactly ON it, and setTimeoutTimestamp
            // rejects the past)
            state.setTimeoutTimestamp(math.max(
              (open.map(_.end_us).min + gapUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
          }
          closed.iterator.map(s => Session(user, s.start_us, s.end_us, s.n))
      }
  }

  case class FEv(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class FunnelUser(user_id: Long, stage: Int)
  case class FunnelSt(minViewUs: Long, clickUs: List[Long],
                      purchaseUs: List[Long], lastUs: Long)

  /** Streaming ordered-funnel tracker (view → click-after-view →
    * purchase-after-click), the incremental twin of the batch
    * [[graft.ops.SqlOps.eventsFunnel]]: per user, the furthest stage
    * reached within one activity episode, emitted once the watermark
    * passes the user's last event + a quiet gap.
    *
    * The stage function is NOT incrementally collapsible under
    * out-of-order arrival: a late view can lower t1, which can lower
    * the first-click-after-view t2, which re-qualifies previously
    * ineligible purchases. So state keeps the minimal sufficient set —
    * min view time (only the min can ever matter), ALL click times,
    * ALL purchase times — and the stage is computed once, at close.
    * Like the sessionize list state, this is bounded by the watermark
    * horizon per key, not by stream length. Stage-0 users (no view)
    * emit nothing. */
  def funnelStages(events: Dataset[FEv], quietMinutes: Int = 60): Dataset[FunnelUser] = {
    import events.sparkSession.implicits._
    val quietUs = quietMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelUser](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[FEv], state: GroupState[FunnelSt]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption
            .getOrElse(FunnelSt(Long.MaxValue, Nil, Nil, Long.MinValue))
          val st =
            if (state.hasTimedOut) prior
            else evs.foldLeft(prior) { (s, e) =>
              val us = e.ts.getTime * 1000L
              val s2 = e.event_type match {
                case "view"     => s.copy(minViewUs = math.min(s.minViewUs, us))
                case "click"    => s.copy(clickUs = us :: s.clickUs)
                case "purchase" => s.copy(purchaseUs = us :: s.purchaseUs)
                case _          => s // other event types only mark activity
              }
              s2.copy(lastUs = math.max(s2.lastUs, us))
            }
          // same strictly-behind close rule as sessionize: an event AT
          // the watermark is still admissible
          if (st.lastUs + quietUs < wmUs) {
            state.remove()
            val t1 = Option.when(st.minViewUs != Long.MaxValue)(st.minViewUs)
            val t2 = t1.flatMap(t => st.clickUs.filter(_ > t).minOption)
            val t3 = t2.flatMap(t => st.purchaseUs.filter(_ > t).minOption)
            val stage =
              if (t3.isDefined) 3 else if (t2.isDefined) 2
              else if (t1.isDefined) 1 else 0
            if (stage == 0) Iterator.empty
            else Iterator.single(FunnelUser(user, stage))
          } else {
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              (st.lastUs + quietUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Stream-stream interval join: each click paired with the same
    * user's purchases from the preceding 30 minutes. Watermarks on both
    * sides plus the interval condition let the engine expire join state
    * — state size is O(events in the interval horizon), the streaming
    * analogue of the batch as-of join. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes").alias("c")
    val p = purchases.withWatermark("ts", "40 minutes").alias("p")
    c.join(p, expr(
        "c.user_id = p.user_id AND " +
        "p.ts BETWEEN c.ts - INTERVAL 30 MINUTES AND c.ts"))
      .select(col("c.user_id").as("user_id"),
              col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))
  }

  case class Chg(key: Long, ts: java.sql.Timestamp, seq: Int, op: String, value: Double)
  case class ChgState(seq: Int, op: String, value: Double, maxUs: Long)
  case class CdcRow(key: Long, value: Double, last_seq: Int)

  /** Streaming CDC apply — the incremental twin of the batch
    * [[graft.ops.SqlOps.cdcApply]]: per key, keep the
    * highest-sequence change seen (late rows within the watermark may
    * arrive in any order; only seq order matters), and once the
    * watermark passes the key's quiet horizon emit the final state —
    * unless the winning op is a delete, which emits nothing. State is
    * ONE row per active key (the winning change), dropped at
    * emission; the timeout re-arms from the max event time ever seen
    * (the pairStep monotonicity rule). */
  def cdcLatest(changes: Dataset[Chg], horizonMinutes: Int = 60): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    val horizonUs = horizonMinutes * 60L * 1000000L
    changes
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.key)
      .flatMapGroupsWithState[ChgState, CdcRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[Chg], state: GroupState[ChgState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.op == "D") Iterator.empty
            else Iterator.single(CdcRow(key, st.value, st.seq))
          } else {
            val prior = state.getOption
            val st = rows.foldLeft(prior.orNull) { (acc, c) =>
              val us = c.ts.getTime * 1000L
              val accMax = if (acc == null) 0L else acc.maxUs
              val winner =
                if (acc == null || c.seq > acc.seq) ChgState(c.seq, c.op, c.value, 0L)
                else ChgState(acc.seq, acc.op, acc.value, 0L)
              winner.copy(maxUs = math.max(accMax, us))
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              (st.maxUs + horizonUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  case class TEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  case class Transition(user_id: Long, prev: String, next: String)

  /** Streaming first-order transition extractor — the streaming twin
    * of batch [[graft.ops.SqlOps.eventTransitions]]: one (ts,
    * event_id, type) triple of state per user (the minimal sufficient
    * state — the next transition needs only the latest event), each
    * arriving event emits its (prev → next) edge immediately.
    * Within a batch events are applied in (ts, event_id) order — the
    * same total order the batch LAG uses — and an event at or before
    * the retained latest is dropped (at-least-once redelivery and
    * cross-batch stragglers must not emit duplicate or backward
    * edges; the in-order arrival contract matches cusumMonitor's). */
  def transitionStream(events: Dataset[TEv]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TEv, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TEv], state: GroupState[TEv]) =>
          var last = state.getOption.orNull
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).iterator.flatMap { e =>
            val newer = last == null ||
              e.ts.getTime > last.ts.getTime ||
              (e.ts.getTime == last.ts.getTime && e.event_id > last.event_id)
            if (!newer) Iterator.empty
            else {
              val edge = if (last == null) Iterator.empty
                         else Iterator.single(Transition(uid, last.event_type, e.event_type))
              last = e
              edge
            }
          }.toList
          if (last != null) state.update(last)
          out.iterator
      }
  }

  case class DisEv(user_id: Long, event_type: String, event_id: Long,
                   ts: java.sql.Timestamp)
  case class Disorder(user_id: Long, event_type: String, event_id: Long,
                      delta_s: Long)

  /** Streaming event-time disorder monitor — the live form of batch
    * [[graft.ops.SqlOps.disorderProfile]]: per user, one int64 of
    * state (max event-time seconds ever seen), each arriving event
    * emits its lag behind that running max. Within a batch events are
    * applied in event_id (arrival) order, the same total order the
    * batch window uses, so feeding a stream in arrival order
    * reproduces the batch deltas row for row (asserted in
    * StreamingSpec on planted disorder). The running max is monotone,
    * so at-least-once redelivery can only re-emit an identical row,
    * never a wrong delta. This is the operational half of watermark
    * sizing: the batch profile picks the horizon, this monitor
    * verifies it live. */
  def disorderMonitor(events: Dataset[DisEv]): Dataset[Disorder] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Disorder](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[DisEv], state: GroupState[Long]) =>
          var mx = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val s = e.ts.getTime / 1000
            mx = math.max(mx, s)
            Disorder(uid, e.event_type, e.event_id, mx - s)
          }
          state.update(mx)
          out.iterator
      }
  }

  case class DayCount(event_type: String, day: Long, c: Long)
  case class CusumState(s20: Long, peak20: Long, alarms: Long, lastDay: Long)
  case class CusumRow(event_type: String, day: Long, cusum20: Long,
                      alarm: Boolean, n_alarms: Long)

  /** Streaming one-sided CUSUM level-shift monitor — the streaming
    * twin of the batch [[graft.ops.SqlOps.cusumDrift]]. CUSUM is
    * inherently sequential (S_d = max(0, S_{d−1} + x_d)), which batch
    * SQL has to re-derive through prefix-sum windows; a keyed stream
    * is its NATURAL home — one O(1) state row per key, updated per
    * completed-day count as it arrives. Input is the (event_type,
    * day, c) daily-count stream an upstream tumbling window emits, in
    * day order per type (the session/window stage already guarantees
    * that); `baseline` maps each type to its reference day-volume
    * quantized by the PRODUCER to exact integers — slacked25 = ⌊25·μ⌉
    * (mean + μ/4 slack, ×20) and alarm40 = ⌊40·μ⌉ (2μ threshold,
    * ×20) — so the update is pure int64 arithmetic: S20 = max(0,
    * S20 + 20·c − slacked25), alarm while S20 > alarm40. Emits one
    * row per consumed day (append mode) carrying the running
    * statistic and alarm count; unknown types are dropped (no
    * baseline = no model to drift from). */
  def cusumMonitor(days: Dataset[DayCount],
                   baseline: Map[String, (Long, Long)]): Dataset[CusumRow] = {
    import days.sparkSession.implicits._
    val base = days.sparkSession.sparkContext.broadcast(baseline)
    days
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tp: String, rows: Iterator[DayCount], state: GroupState[CusumState]) =>
          base.value.get(tp) match {
            case None => Iterator.empty
            case Some((slacked25, alarm40)) =>
              var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, Long.MinValue))
              val out = rows.toSeq.sortBy(_.day).iterator.collect {
                // a replayed or out-of-order day must not advance the
                // statistic twice — at-least-once sources re-deliver
                case DayCount(_, day, c) if day > st.lastDay =>
                  val s = math.max(0L, st.s20 + 20L * c - slacked25)
                  val alarm = s > alarm40
                  st = CusumState(s, math.max(st.peak20, s),
                    st.alarms + (if (alarm) 1L else 0L), day)
                  CusumRow(tp, day, s, alarm, st.alarms)
              }.toList
              state.update(st)
              out.iterator
          }
      }
  }

  /** Streaming anomaly gate — a stream-STATIC join: arriving events
    * are joined to a precomputed per-type robust-stats table (the
    * batch [[graft.ops.SqlOps.anomalyMad]] stages) and only rows with
    * |value − median| > 5·MAD pass. The static side is re-read per
    * micro-batch by Spark (picks up stats refreshes) and broadcasts
    * when small; no streaming state at all — the gate is a stateless
    * projection + join, the standard "score against last night's
    * model" shape. `stats` must carry (event_type, medc, madc) in
    * integer cents, as the staged tables do. */
  def anomalyGate(events: DataFrame, stats: DataFrame): DataFrame =
    events
      .withColumn("cents",
        expr("CAST(FLOOR(value * 100 + 5.0e-1) AS BIGINT)"))
      .join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("cents") - col("medc")) > lit(5) * col("madc"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("cents"), col("medc"), col("madc"))

  /** Streaming conformal gate — the DEPLOYMENT side of the batch
    * split-conformal calibration ([[graft.ops.SqlOps.filterConformal]]):
    * arriving docs are scored with the SAME single-sourced cheap-score
    * formula ([[graft.ops.SqlOps.sparkConfExpr]] — calibration and
    * deployment cannot drift), then gated on the calibrated τ carried
    * by a ONE-ROW static table (broadcast cross join). Refreshing the
    * calibration means re-creating the τ frame and restarting the
    * query: a FILE-backed static DataFrame pins its part-file listing
    * at creation (the stage-memo lesson — `read.parquet` captures the
    * FileIndex eagerly), so an in-place parquet overwrite would serve
    * the stale τ or fail on deleted part files, never refresh it; a
    * table-backed source (JDBC, Delta) re-reads per micro-batch.
    * Stateless — score + gate, no streaming state; the admitted row
    * carries its score and the τ it was admitted under, so downstream
    * can audit which calibration admitted each doc. An EMPTY τ table
    * is refused loudly at construction — the inner cross join would
    * otherwise admit zero docs forever with no error signal (the
    * blackhole failure mode); the same degenerate calibration throws
    * in the batch query's own guard. The conformal guarantee
    * transfers exactly as calibrated: ≤ α of true-pass docs are
    * wrongly rejected, as long as the arriving distribution matches
    * the calibration split (the drift monitors watch that
    * assumption). */
  def conformalGate(docs: DataFrame, tau: DataFrame): DataFrame = {
    require(!tau.isEmpty,
      "conformalGate: empty tau table — no true-pass calibration docs; " +
        "recalibrate before deploying the gate")
    // NULL-text docs are rejected EXPLICITLY (filter first), not by
    // the score arithmetic: split(NULL) makes conf NULL and the τ
    // compare silently rejects — an explicit filter documents that a
    // NULL-text doc can never be admitted (it has no content to score,
    // so no conformal guarantee can cover it), mirroring
    // piiRedactStream's explicit NULL handling instead of relying on
    // NULL-comparison semantics.
    docs
      .filter(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("conf", expr(graft.ops.SqlOps.sparkConfExpr))
      .crossJoin(broadcast(tau.select(col("tau").as("tau_admitted"))))
      .filter(col("conf") >= col("tau_admitted"))
      .select(col("doc_id"), col("conf"), col("tau_admitted"))
  }

  /** Streaming PII redaction gate — the deployment side of the batch
    * release audit ([[graft.ops.SqlOps.piiScan]]): every arriving doc
    * is emitted with its text redacted to [KIND] tags and its
    * per-kind raw match counts (the per-batch health signal an ingest
    * monitor rolls up — a count spike means an upstream source
    * started leaking identifiers). Patterns and redaction order are
    * the SAME single-sourced list the batch scan and the spec replay
    * read ([[graft.ops.SqlOps.PiiPatterns]] /
    * [[graft.ops.SqlOps.piiRedactExpr]]) — detection and redaction
    * cannot drift between batch and stream. Stateless: one narrow
    * codegen'd projection, no joins, no streaming state — the shape
    * that streams at any volume. Counts are of regex HITS (the
    * redaction trigger), not validated identifiers — the Luhn/octet
    * separation stays a batch-audit concern. */
  def piiRedactStream(docs: DataFrame): DataFrame = {
    // coalesce: a NULL-text doc must count 0, not NULL — the batch
    // monitor filters NULL text before counting, and the two paths
    // must not drift on per-row arithmetic
    val counts = graft.ops.SqlOps.PiiPatterns.map { case (k, rx) =>
      coalesce(expr(graft.ops.SparkDialect.reCount("text", rx)).cast("long"), lit(0L))
        .as(s"n_$k")
    }
    docs.select(
      col("doc_id") +: counts :+
        expr(graft.ops.SqlOps.piiRedactExpr("text")).as("text_redacted"): _*)
  }

  /** Streaming cross-run dedup on a key (the reference's re-scrape
    * collapse, SURVEY.md §2.4 D2) with watermark-bounded state. */
  def dedupByKey(df: DataFrame, key: String, tsCol: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(key)

  /** Streaming Misra-Gries heavy-hitter sketch: the same mergeable
    * k-slot aggregate the batch gate uses
    * ([[graft.functions.MisraGriesAgg]], `mg_topk`), maintained as a
    * streaming global aggregate — each micro-batch's rows are
    * map-side combined into partial sketches and merged into the one
    * O(k) buffer the state store persists, so state size is
    * independent of both stream length and key cardinality (the
    * property that lets a 100 TB/day stream track frequent keys in a
    * few KB of state). Emits the current sketch each batch
    * (update/complete mode); the MG undercount bound (≤ N/(k+1))
    * means every key with running share > 1/(k+1) is guaranteed
    * present, so a consumer gates an exact count on the candidates
    * exactly like the batch heavy-hitters query. The sketch CONTENT
    * (marginal keys, estimates) depends on arrival and merge order —
    * consumers must treat it as a candidate set, never as final
    * counts. */
  def heavyHitterSketch(items: DataFrame, keyCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(items.sparkSession)
    items.groupBy().agg(expr(s"mg_topk($keyCol, $k)").as("sketch"))
  }

  /** Streaming count-min sketch: the same mergeable d×w counter matrix
    * the batch gate uses ([[graft.functions.CountMinAgg]]), run as a
    * streaming global aggregate — O(d·w) state regardless of key
    * cardinality, element-wise-additive merges across micro-batches.
    * Because CMS content is commutative-associative integer addition
    * (unlike the Misra-Gries summary, whose content is merge-order-
    * dependent), the streamed sketch is BIT-IDENTICAL to the batch
    * sketch over the same rows under any batching — asserted exactly
    * in StreamingSpec, the strongest batch≡stream parity any sketch
    * here can offer. */
  def cmsSketchStream(items: DataFrame, keyCol: String,
                      w: Int, d: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(items.sparkSession)
    items.groupBy().agg(expr(s"cms_sketch($keyCol, $w, $d)").as("sketch"))
  }

  /** Streaming histogram sketch — the incremental form of the batch
    * histogram-quantile artifact ([[graft.ops.SqlOps.histogramQuantiles]]'
    * (event_type, bin, cnt) table): bin arriving values against a
    * FROZEN per-type bounds table (the prior calibration batch —
    * production histogram monitors pin bin edges so shards, epochs,
    * and streams stay mergeable against each other) and maintain the
    * counts as a streaming aggregation. State is O(types · 32)
    * regardless of stream length, and the content is pure
    * commutative-associative integer addition, so the streamed table
    * is ROW-IDENTICAL to the batch histogram over the same rows under
    * any batching (the cmsSketchStream parity class). Unlike the
    * batch form (whose bounds come from the same data), a drifted
    * stream can fall outside the frozen bounds — both edges clamp, so
    * drift piles visibly into bins 0/31 instead of corrupting keys;
    * an event_type the calibration batch never saw has no bin edges
    * at all, so it lands in the sentinel bin -1 (LEFT join, never an
    * inner join that would silently drop the series exactly when
    * drift appears). */
  def histogramStream(events: DataFrame, bounds: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("CAST(FLOOR(value * 100 + 5.0e-1) AS BIGINT)").as("c"))
      .join(broadcast(bounds), Seq("event_type"), "left_outer")
      .select(col("event_type"),
        expr("CASE WHEN mn IS NULL THEN -1L ELSE GREATEST(0, LEAST(31, ((c - mn) * 32) DIV (mx - mn + 1))) END").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))

  /** Streaming corpus-cleaning gate: score every arriving document
    * with the SAME single-sourced language-guess + quality formulas
    * the batch filter uses ([[graft.ops.SqlOps.sparkScoreExprs]] —
    * shared text, so batch and stream cannot drift), keep passing
    * docs, and drop content-hash duplicates within the watermark.
    * Scoring is a narrow stateless projection (streams trivially);
    * the only state is the md5 dedup map, bounded by the watermark
    * horizon — the streaming twin of the batch `q_corpus_filter`
    * (whose keep-smallest-doc_id survivor rule this reproduces when
    * events arrive in id order; under arbitrary arrival the survivor
    * is the first seen, the only causal choice a stream can make). */
  def corpusGate(docs: DataFrame, tsCol: String = "ts",
                 watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    val (langExpr, qualExpr) = graft.ops.SqlOps.sparkScoreExprs
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("lang_guess", expr(langExpr))
      .withColumn("quality", expr(qualExpr))
      .filter(col("lang_guess") =!= "und" && col("quality") >= 0.4)
      .withColumn("content_hash", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("content_hash"), col("lang_guess"), col("quality"))
  }

  case class QuotaDoc(doc_id: Long, source: String)
  case class QuotaAdmit(source: String, doc_id: Long)

  /** Streaming per-source admission quota — the ingestion-side twin of
    * the batch `q_cap_per_source` gate: admit at most `quota` docs per
    * source, then reject. State per source is the ADMITTED ID SET, not
    * a counter — bounded at O(quota) ids, and the membership check
    * makes at-least-once redelivery idempotent (a replayed admitted
    * doc neither double-counts nor re-emits; a replayed rejected doc
    * is re-rejected). Within a micro-batch docs are processed in
    * doc_id order, the only deterministic choice available to a
    * stream (the batch gate's hash-priority ranking needs the full
    * corpus); across batches admission is first-arrival — so the
    * parity reference is a sequential per-batch replay, asserted in
    * StreamingSpec. */
  def sourceQuotaGate(docs: Dataset[QuotaDoc], quota: Int): Dataset[QuotaAdmit] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[QuotaDoc], state: GroupState[Seq[Long]]) =>
          val admitted = state.getOption.getOrElse(Seq.empty[Long])
          val have = admitted.toSet
          val fresh = it.map(_.doc_id).toSeq.distinct.sorted
            .filterNot(have)
            .take(math.max(0, quota - admitted.size))
          if (fresh.nonEmpty) state.update(admitted ++ fresh)
          fresh.iterator.map(QuotaAdmit(src, _))
      }
  }

  case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band: Int, bkey: String)
  case class BandState(ids: List[Long], maxUs: Long = 0L)
  case class CandPair(doc_a: Long, doc_b: Long, band: Int)

  /** Shared keyed-state step for the candidate emitters
    * ([[minhashCandidates]], [[substringCandidates]]): deterministic
    * (ts, id) batch order, membership-deduplicated member list,
    * normalized (min, max) pair emission against prior members, and a
    * MONOTONE max event time — a late-but-valid row must never shrink
    * an already-armed expiry, so the timeout is re-derived from the
    * max ever seen, not from this batch alone.
    * Returns (members, maxSeenUs, pairs). */
  private[streaming] def pairStep(members0: List[Long], maxSeen0: Long,
                       batch: List[(Long, Long)]): (List[Long], Long, List[(Long, Long)]) = {
    val sorted = batch.sortBy(identity)
    val maxUs = math.max(maxSeen0, sorted.map(_._1 * 1000L).max)
    var members = members0
    val pairs = sorted.flatMap { case (_, id) =>
      if (members.contains(id)) Nil
      else {
        val ps = members.map(m => (math.min(m, id), math.max(m, id)))
        members = id :: members
        ps
      }
    }
    (members, maxUs, pairs)
  }

  /** Streaming near-duplicate candidate detection — the incremental
    * twin of the batch minhash LSH ([[graft.ops.SqlOps.dedupMinhash]]):
    * each arriving document is signed with the SAME 8×16-bit md5-slice
    * minhash (computed as a narrow per-row expression over the
    * codegen'd word_shingles array — no pre-shuffle), exploded into
    * the same MhBands bands of MhRows, and matched against the per-(band, key)
    * membership state; every collision emits a candidate pair
    * normalized (small id, large id).
    *
    * Emission is at-least-once ACROSS bands (two docs agreeing on two
    * bands emit the pair twice, once per band) — exactly like the
    * batch band join before its DISTINCT; the downstream exact
    * verifier (or any set-consumer) dedups naturally. State per
    * (band, key) is the member-id list, dropped wholesale once the
    * watermark passes the bucket's last arrival + the horizon — the
    * production bound: a doc only pairs with others inside the
    * watermark window, which is the streaming contract (cross-horizon
    * dedup belongs to the batch/incremental ops). */
  /** The 8×16-bit md5-slice minhash signature and its band keys as
    * SQL expression strings — ONE copy shared by [[minhashCandidates]]
    * (keyed-state candidates) and [[bandRowsOf]] (the daily-ingest band
    * index). Band geometry renders from the batch side's constants
    * ([[graft.ops.SqlOps.MhBands]]/[[graft.ops.SqlOps.MhRows]], the
    * lshParamOpt argmin), so a batch re-band moves the streaming band
    * keys with it — they feed the same candidate semantics. */
  private val mhSigCols: Seq[String] = (0 until 8).map { j =>
    s"array_min(transform(word_shingles(text, 3), s -> substr(md5(s), ${4 * j + 1}, 4))) AS h$j"
  }
  private val mhBandStructs: String = (0 until graft.ops.SqlOps.MhBands).map { b =>
    val ks = (0 until graft.ops.SqlOps.MhRows)
      .map(j => s"h${b * graft.ops.SqlOps.MhRows + j}").mkString(", ")
    s"named_struct('band', $b, 'bkey', concat($ks))"
  }.mkString("array(", ", ", ")")

  def minhashCandidates(docs: DataFrame, watermark: String = "10 minutes",
                        horizonMinutes: Int = 60): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val horizonUs = horizonMinutes * 60L * 1000000L
    val sigCols = mhSigCols
    val bandStructs = mhBandStructs
    docs
      .selectExpr(Seq("doc_id", "ts") ++ sigCols: _*)
      // docs with no 3-grams have no signature (same rule as the batch
      // GROUP BY over shingle rows, where such docs simply have no rows)
      .filter(col("h0").isNotNull)
      .selectExpr("doc_id", "ts", s"explode($bandStructs) AS bk")
      .select(col("doc_id"), col("ts"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .withWatermark("ts", watermark)
      .as[BandRow]
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[BandState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), rows: Iterator[BandRow], state: GroupState[BandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption
            val (members, maxUs, ps) = pairStep(
              st.map(_.ids).getOrElse(Nil), st.map(_.maxUs).getOrElse(0L),
              rows.toList.map(r => (r.ts.getTime, r.doc_id)))
            state.update(BandState(members, maxUs))
            state.setTimeoutTimestamp(math.max(
              (maxUs + horizonUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            ps.iterator.map { case (a, b) => CandPair(a, b, key._1) }
          }
      }
  }

  case class WinRow(doc_id: Long, ts: java.sql.Timestamp, sid: Long)
  case class WinState(ids: List[Long], maxUs: Long = 0L)
  case class SpanPair(doc_a: Long, doc_b: Long, sid: Long)

  /** Streaming counterpart of the batch duplicated-span profile
    * (q_dedup_substring): each arriving doc's 8-token windows are
    * keyed by window hash; when a key has already been carried by
    * another doc, the (earlier, later) pair is emitted as span-
    * duplication evidence — the same (doc_a, doc_b, window) triples
    * the batch window index yields by self-join, discovered
    * incrementally. State per window key is the distinct member doc
    * list, expired past the event-time horizon. Intra-doc window
    * repeats are deduplicated by the membership check, so a doc pairs
    * with each prior carrier at most once per window key. */
  def substringCandidates(docs: DataFrame, watermark: String = "10 minutes",
                          horizonMinutes: Int = 60): Dataset[SpanPair] = {
    import docs.sparkSession.implicits._
    val horizonUs = horizonMinutes * 60L * 1000000L
    docs
      .selectExpr("doc_id", "ts", "explode(word_shingles(text, 8)) AS s")
      .selectExpr("doc_id", "ts", "xxhash64(s) AS sid")
      .withWatermark("ts", watermark)
      .as[WinRow]
      .groupByKey(_.sid)
      .flatMapGroupsWithState[WinState, SpanPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (sid: Long, rows: Iterator[WinRow], state: GroupState[WinState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption
            val (members, maxUs, ps) = pairStep(
              st.map(_.ids).getOrElse(Nil), st.map(_.maxUs).getOrElse(0L),
              rows.toList.map(r => (r.ts.getTime, r.doc_id)))
            state.update(WinState(members, maxUs))
            state.setTimeoutTimestamp(math.max(
              (maxUs + horizonUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            ps.iterator.map { case (a, b) => SpanPair(a, b, sid) }
          }
      }
  }

  /** Micro-batch upsert: the reference's staging+merge load applied per
    * micro-batch (`Trigger.AvailableNow` over a landing directory gives
    * exactly the reference's idempotent daily-batch semantics). The
    * target is maintained as a parquet dir swapped via checked renames
    * with a `.old` recovery dir: a crash between the two moves leaves
    * `.old` in place, and the next batch (or a restart) recovers the
    * previous state from it instead of silently rebuilding from the
    * batch alone.
    *
    * Each batch is deduplicated on the key first (keep-last by
    * `orderCol`): a single landing-dir drain can contain the same key
    * twice (re-scrape within one day), and [[graft.etl.Load.merge]]
    * requires unique staging keys to reproduce the reference's
    * sequential ON CONFLICT last-writer-wins semantics. */
  /** Crash-recoverable atomic republish of a parquet target dir — the
    * ONE copy of the swap protocol every foreachBatch sink that
    * maintains a read-modify-write target ([[upsertEachBatch]],
    * [[clusterMaintenance]]) goes through:
    *  - recovery first: target missing with `.old` present means a
    *    previous batch died between its two moves — restore `.old`;
    *  - `build` receives the CURRENT target contents (None on first
    *    publish) and returns the replacement;
    *  - the replacement lands in `.tmp`, then target → `.old` →
    *    `.tmp` → target via ATOMIC_MOVEs (which THROW instead of
    *    silently degrading, e.g. across filesystems — failing the
    *    batch so the checkpoint cannot advance past a lost target). */
  private def publishParquet(spark: SparkSession, targetDir: String)
                            (build: Option[DataFrame] => DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(targetDir)
    val old = Paths.get(targetDir + ".old")
    if (!Files.exists(target) && Files.exists(old))
      Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
    val current =
      if (Files.exists(target)) Some(spark.read.parquet(targetDir)) else None
    val merged = build(current)
    val tmp = targetDir + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    if (Files.exists(target))
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
  }

  def upsertEachBatch(spark: SparkSession, stream: DataFrame, key: String,
                      targetDir: String, checkpointDir: String,
                      orderCol: Option[String] = None) = {
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // keep-last within the batch = the reference's sequential upsert.
        // Callers needing reference-faithful last-writer-wins MUST pass
        // orderCol: without one, monotonically_increasing_id encodes
        // partition index (not arrival order), so "last" is only a
        // best-effort proxy. Either way a content-hash tie-breaker
        // makes the survivor deterministic across reruns and
        // repartitionings when __ord ties (e.g. equal timestamps).
        val ordered = orderCol.map(batch.col)
          .getOrElse(monotonically_increasing_id())
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key))
          .orderBy(col("__ord").desc, col("__tie").desc)
        // hash only hashable columns: xxhash64 rejects MapType, and a
        // map-typed payload column must not break the whole upsert
        import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
        def hasMap(dt: DataType): Boolean = dt match {
          case _: MapType => true
          case s: StructType => s.fields.exists(f => hasMap(f.dataType))
          case a: ArrayType => hasMap(a.elementType)
          case _ => false
        }
        val tieCols = batch.schema.fields
          .filter(f => !hasMap(f.dataType)).map(f => col(f.name))
        val deduped = batch
          .withColumn("__ord", ordered)
          .withColumn("__tie",
            if (tieCols.nonEmpty) xxhash64(struct(tieCols.toSeq: _*)) else lit(0L))
          .withColumn("__rn", row_number().over(win))
          .filter(col("__rn") === 1).drop("__rn", "__ord", "__tie")
        // both branches must agree on key semantics: merge drops
        // NULL-key staging rows (the reference's PRIMARY KEY table
        // can't hold one), so the first-batch branch filters them too
        // — otherwise the target's content would depend on which batch
        // a null-key row happened to arrive in
        publishParquet(spark, targetDir) {
          case Some(current) => graft.etl.Load.merge(current, deduped, key)
          case None => deduped.filter(col(key).isNotNull)
        }
      }
  }

  /** Streaming duplicate-cluster maintenance: each micro-batch of
    * candidate-pair edges (`a`, `b`) merges into the persistent cluster
    * map via the delta-edge CC update
    * ([[graft.ops.Cluster.incrementalUpdate]]) — per-batch cost ∝ batch
    * edges, never the corpus-wide closure. The first batch seeds the
    * map with a from-scratch CC over itself.
    *
    * At-least-once safe BY ALGEBRA, not by bookkeeping: component
    * structure is a function of the edge SET, so a replayed edge
    * contracts to a self-loop (both endpoints already share a label)
    * and changes nothing — redelivered batches are idempotent, unlike
    * counter-style state. The target swap is the same
    * crash-recoverable ATOMIC_MOVE protocol as [[upsertEachBatch]]:
    * a batch that dies mid-publish either left the old map in place or
    * is recovered from `.old` before the retry applies. */
  /** Cluster-map target dirs this JVM has already validated (or itself
    * published): the self-labeled-representative check is O(|map|), so
    * it runs once per artifact LOAD — the trust boundary is the first
    * disk read, not every micro-batch; re-checking a map this process
    * just wrote would break the cost-∝-delta contract for no added
    * trust. (An external writer mutating the dir mid-stream is outside
    * the single-writer contract every publishParquet target assumes.) */
  private val validatedClusterMaps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] def requireMinLabelMapOnce(map: DataFrame, targetDir: String): Unit =
    if (!validatedClusterMaps.contains(targetDir)) {
      graft.ops.Cluster.requireMinLabelMap(map)
      validatedClusterMaps.add(targetDir)
    }

  def clusterMaintenance(spark: SparkSession, edges: DataFrame,
                         targetDir: String, checkpointDir: String) = {
    edges.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.select(col("a"), col("b"))
        publishParquet(spark, targetDir) {
          case Some(current) =>
            // the disk-loaded map is a trust boundary: a target dir
            // seeded by anything but this pipeline could violate the
            // self-labeled-representative invariant incrementalUpdate
            // assumes — fail the batch loudly rather than relabel wrong
            requireMinLabelMapOnce(current, targetDir)
            graft.ops.Cluster.incrementalUpdate(current, b)
          case None => graft.ops.Cluster.connectedComponents(b)
        }
      }
  }

  // --------------------------------------------------------------------
  // Streaming ANN (IVF) index maintenance: the foreachBatch twin of the
  // batch q_ann_ivf_delta — frozen coarse centroids, per-batch delta
  // assignment, sufficient-statistics merge.
  // --------------------------------------------------------------------

  /** Streaming IVF index maintenance. `centroids` is yesterday's
    * TRAINED coarse quantizer — (label, pos, qc) with 0-based pos and
    * µ-quantized int64 components, frozen for the day exactly as in the
    * batch delta op ([[graft.ops.SqlOps.annIvfDelta]]): arriving
    * vectors are assigned to it, never retrain it (drift detection
    * below tells you when to). The maintained state is ONE atomically
    * published artifact (`targetDir`) holding two row kinds:
    *  - `member` rows (vec_id, cell) — the posting list, i.e. the
    *    index payload itself;
    *  - `stat` rows (cell, pos, s, n) — per-(cell, component)
    *    sufficient statistics (Σ quantized value, count).
    * One artifact, one swap: the posting list and its statistics can
    * never be observed out of step, and idempotence is pure membership
    * — a replayed vector is already a member, contributes nothing, and
    * the batch no-ops. Per-batch compute is ∝ batch: assignment is
    * batch × centroids (broadcast-sized), the stats merge is a
    * full-outer join on (cell, pos) — cells × dims rows, tiny.
    *
    * Assignment arithmetic is the IVF family's exact µ-quantized int64
    * L2 with the full-dimension-match guard (a vector whose length
    * differs from a centroid's must skip it, not score a prefix), ties
    * to the smallest label — engine-identical to the batch index, so a
    * nightly parity check against the batch rebuild is row-exact. */
  def annMaintenanceBatch(spark: SparkSession, batch: DataFrame,
                          centroids: DataFrame, targetDir: String): Unit = {
    publishParquet(spark, targetDir) { current =>
      val fresh0 = batch.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id").isNotNull).dropDuplicates("vec_id")
      val fresh = current match {
        case Some(cur) => fresh0.join(
          cur.filter(col("kind") === "member").select("vec_id"),
          Seq("vec_id"), "left_anti")
        case None => fresh0
      }
      // exact int64 µ-quantized components, 0-based pos
      val eq = fresh.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("pos", col("pos").cast("long"))
        .withColumn("qv",
          floor(col("v").cast("double") * 1.0e6 + 0.5).cast("long"))
      val vdim = eq.groupBy("vec_id").agg(count(lit(1)).as("nd"))
      val cdim = centroids.groupBy("label").agg(count(lit(1)).as("cd"))
      val dist = eq.join(centroids, Seq("pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum((col("qv") - col("qc")) * (col("qv") - col("qc"))).as("d2"),
          count(lit(1)).as("npos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("d2"), col("label"))
      val asgn = dist
        .join(vdim, Seq("vec_id")).join(cdim, Seq("label"))
        .filter(col("npos") === col("nd") && col("npos") === col("cd"))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("vec_id"), col("label").as("cell"))
      val dstats = eq.join(asgn, Seq("vec_id"))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qv")).as("sd"), count(lit(1)).as("nd"))
      val newMembers = asgn
        .select(lit("member").as("kind"), col("vec_id"), col("cell"),
          lit(null).cast("long").as("pos"), lit(null).cast("long").as("s"),
          lit(null).cast("long").as("n"))
      val baseStats = current.map(_.filter(col("kind") === "stat")
          .select(col("cell"), col("pos"), col("s"), col("n")))
        .getOrElse(dstats.select(col("cell"), col("pos"),
          lit(0L).as("s"), lit(0L).as("n")).limit(0))
      // USING-join on (cell, pos): the output key columns are already
      // the non-null side's values
      val mergedStats = baseStats
        .join(dstats, Seq("cell", "pos"), "full_outer")
        .select(lit("stat").as("kind"), lit(null).cast("long").as("vec_id"),
          col("cell"), col("pos"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("sd"), lit(0L))).as("s"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"))
      val keptMembers = current.map(_.filter(col("kind") === "member"))
        .getOrElse(newMembers.limit(0))
      keptMembers.unionByName(newMembers).unionByName(mergedStats)
    }
  }

  /** Per-cell drift report off the maintained state — the read-side
    * pure function a scheduler polls to decide retraining: member
    * count, the updated quantized mean per component vs the frozen
    * centroid, max |drift| in µ-units, retrain flag past the same
    * 1000 µ threshold as the batch delta op. */
  def ivfDriftReport(state: DataFrame, centroids: DataFrame): DataFrame = {
    val stats = state.filter(col("kind") === "stat")
      .select(col("cell"), col("pos"), col("s"), col("n"))
    stats
      .withColumn("qc_upd",
        floor(col("s").cast("double") / col("n") + 0.5).cast("long"))
      .join(centroids.select(col("label").as("cell"), col("pos"), col("qc")),
        Seq("cell", "pos"))
      .groupBy("cell")
      .agg(max(col("n")).as("n_members"),
        max(abs(col("qc_upd") - col("qc"))).as("max_drift_mu"))
      .withColumn("retrain_flag",
        when(col("max_drift_mu") > 1000L, 1).otherwise(0))
  }

  /** The streaming wrapper: each micro-batch of raw vectors (vec_id,
    * embedding) folds into the IVF state via [[annMaintenanceBatch]].
    * Restart-safe for the same reasons as [[clusterMaintenance]]:
    * atomic swap publish + membership idempotence. */
  def annMaintenance(spark: SparkSession, vectors: DataFrame,
                     centroids: DataFrame, targetDir: String,
                     checkpointDir: String) = {
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        annMaintenanceBatch(spark, batch, centroids, targetDir)
      }
  }

  // --------------------------------------------------------------------
  // Composed daily-ingest pipeline: quota gate → minhash band index →
  // incremental clusters → survivors, as ONE foreachBatch body.
  // --------------------------------------------------------------------

  /** LSH band rows of a (doc_id, text) relation — the daily-ingest
    * band index's row shape, same geometry as [[minhashCandidates]].
    * Docs with no 3-grams get a SENTINEL row (band = -1, unique bkey):
    * they can never collide, but they stay visible to the membership
    * deltas downstream (signed, clustered-as-singleton) — without it a
    * shingle-less doc would be re-signed on every batch and never reach
    * the survivor manifest. */
  private[streaming] def bandRowsOf(docs: DataFrame): DataFrame = {
    val sig = docs.selectExpr(Seq("doc_id") ++ mhSigCols: _*)
    val banded = sig.filter(col("h0").isNotNull)
      .selectExpr("doc_id", s"explode($mhBandStructs) AS bk")
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val sentinel = sig.filter(col("h0").isNull)
      .select(col("doc_id"), lit(-1).as("band"),
        concat(lit("__doc_"), col("doc_id")).as("bkey"))
    banded.unionByName(sentinel)
  }

  private def readState(spark: SparkSession, dir: String): Option[DataFrame] = {
    import java.nio.file.{Files, Paths}
    // mirror publishParquet's recovery view: target missing with `.old`
    // present means a publish died between its two moves — the NEXT
    // publish restores it, so a read-only peek must look there too.
    // Both missing ⇒ the artifact was never published: each individual
    // move is ATOMIC_MOVE (it either happened or didn't, and the
    // protocol never has target and .old both absent mid-swap), so the
    // downstream sys.error guards fire only on a genuine call-order
    // violation, not on any crash interleaving.
    if (Files.exists(Paths.get(dir))) Some(spark.read.parquet(dir))
    else if (Files.exists(Paths.get(dir + ".old"))) Some(spark.read.parquet(dir + ".old"))
    else None
  }

  /** Stage 1 — per-source admission against the persisted admitted set
    * (`<root>/admitted`, cols source, doc_id). Same semantics as
    * [[sourceQuotaGate]] with the state on disk instead of in the state
    * store: membership makes replays no-ops, in-batch order is doc_id
    * per source (the only deterministic choice), and a source's lifetime
    * admissions never exceed the quota. */
  private[streaming] def ingestAdmit(spark: SparkSession, batch: DataFrame,
                                     quota: Int, root: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    publishParquet(spark, s"$root/admitted") { current =>
      val docs = batch.select(col("source"), col("doc_id"))
        .filter(col("source").isNotNull && col("doc_id").isNotNull).distinct()
      current match {
        case None =>
          docs.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= quota).drop("__rn")
        case Some(cur) =>
          val have = cur.groupBy("source").agg(count(lit(1)).as("__have"))
          val fresh = docs.join(cur, Seq("source", "doc_id"), "left_anti")
            .join(have, Seq("source"), "left")
            .withColumn("__have", coalesce(col("__have"), lit(0L)))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= lit(quota.toLong) - col("__have"))
            .select(col("source"), col("doc_id"))
          cur.select(col("source"), col("doc_id")).unionByName(fresh)
      }
    }
  }

  /** Stage 2 — sign admitted docs into the band index
    * (`<root>/bands`, cols doc_id, band, bkey). The stage's delta is
    * computed INSIDE the publish callback against the authoritative
    * current index: admitted ∩ batch ∖ already-signed — so a crash
    * after stage 1's publish but before this one self-heals when the
    * batch is redelivered. */
  private[streaming] def ingestSign(spark: SparkSession, batch: DataFrame,
                                    root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    publishParquet(spark, s"$root/bands") { current =>
      // same doc_id twice in one drain = redelivery; texts are
      // identical by the source contract, so any row representative works
      val adm = batch.select(col("doc_id"), col("text"))
        .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id")
      val fresh = current match {
        case Some(cur) =>
          adm.join(cur.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        case None => adm
      }
      val rows = bandRowsOf(fresh)
      current.map(_.unionByName(rows)).getOrElse(rows)
    }
  }

  /** Stage 3 — fold newly signed docs into the persistent cluster map
    * (`<root>/clusters`, cols doc_id, cluster_id; INCLUDES singleton
    * self-rows, so map membership tracks "clustered" exactly). Delta
    * docs = band-index docs not yet in the map; their band rows probe
    * the FULL index for collision edges (new-old and new-new — old-old
    * closures are already folded in), then
    * [[graft.ops.Cluster.incrementalUpdate]] merges them at cost ∝
    * delta. Replayed edges contract to self-loops (no-ops), so a crash
    * between the bands and clusters publishes self-heals too. */
  private[streaming] def ingestCluster(spark: SparkSession, root: String): Unit = {
    val bands = readState(spark, s"$root/bands")
      .getOrElse(sys.error(s"daily-ingest: $root/bands missing (stage order violated)"))
    publishParquet(spark, s"$root/clusters") { current =>
      val deltaDocs = current match {
        case Some(cur) =>
          bands.select("doc_id").distinct()
            .join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => bands.select("doc_id").distinct()
      }
      val real = bands.filter(col("band") =!= -1)
      val probe = real.join(deltaDocs, Seq("doc_id"), "left_semi")
      val edges = probe.alias("n")
        .join(real.alias("idx"),
          col("n.band") === col("idx.band") && col("n.bkey") === col("idx.bkey") &&
            col("n.doc_id") =!= col("idx.doc_id"))
        .select(least(col("n.doc_id"), col("idx.doc_id")).as("a"),
                greatest(col("n.doc_id"), col("idx.doc_id")).as("b"))
        .distinct()
      val withEdges = current match {
        case Some(cur) =>
          // disk is a trust boundary: fail loudly on a map that violates
          // the self-labeled-representative invariant (first load only —
          // the check is O(|map|), see requireMinLabelMapOnce)
          requireMinLabelMapOnce(cur, s"$root/clusters")
          graft.ops.Cluster.incrementalUpdate(cur, edges)
        case None => graft.ops.Cluster.connectedComponents(edges)
      }
      val singles = deltaDocs
        .join(withEdges.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("cluster_id", col("doc_id"))
      withEdges.unionByName(singles)
    }
  }

  /** Stage 4 — the release manifest (`<root>/survivors`, col doc_id):
    * one representative per cluster. Because the map holds singleton
    * self-rows and labels are component MINIMA, survivors are exactly
    * the self-labeled rows — a pure function of the map, trivially
    * idempotent. */
  private[streaming] def ingestSurvivors(spark: SparkSession, root: String): Unit = {
    val clusters = readState(spark, s"$root/clusters")
      .getOrElse(sys.error(s"daily-ingest: $root/clusters missing (stage order violated)"))
    publishParquet(spark, s"$root/survivors") { _ =>
      clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id")
    }
  }

  /** Stage 10 — per-doc release-manifest enrichment (`<root>/manifest`,
    * cols doc_id, lang_guess, quality, n_tokens, shard, content_hash,
    * text_md5): the batch release manifest's own rendered SQL
    * ([[graft.ops.SqlOps.releaseManifest]] — ONE copy of the gate +
    * enrichment logic, zero drift possible) run over each batch's
    * newly-admitted docs. Append-only and FIRST-WRITE-WINS like the
    * history table: enrichment is a pure per-doc function, so a
    * replayed doc can never rewrite its row. The exact-dup gate
    * (corpusFilter's min-doc_id-per-md5(text) rule) is carried across
    * batches by anti-joining on `text_md5` — under in-order drains
    * (ascending doc_id day slices, the daily-ingest contract)
    * first-write-wins coincides with the batch gate's min-doc_id
    * rule, which is exactly what the DailyIngestSpec replay assertion
    * proves (batch-manifest ∘ replayed corpus == streaming union).
    * The equivalence is ENFORCED, not assumed: the one order-sensitive
    * case — a new doc whose md5 group is already manifested under a
    * higher doc_id (a late-delivered group minimum) — throws loudly
    * (see the guard below) instead of being silently anti-joined
    * away; replays (including of gate-failed docs, which never enter
    * the manifest) are unaffected.
    * NOT the released set by itself: cluster
    * representatives can change when a later batch merges clusters,
    * so release membership is composed at stage 11 from two published
    * artifacts instead of baked into this one. */
  private[streaming] def ingestManifest(spark: SparkSession, batch: DataFrame,
                                        root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    publishParquet(spark, s"$root/manifest") { current =>
      val cand = batch.select(col("doc_id"), col("text"))
        .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id")
      val fresh = current match {
        case Some(cur) =>
          val byId = cand.join(cur.select("doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("__md5", md5(col("text")))
          // LOUD divergence guard: first-write-wins on text_md5 equals
          // the batch gate's min-doc_id-per-md5 rule EXCEPT in exactly
          // one case — a genuinely-new doc whose md5 group is already
          // manifested under a HIGHER doc_id (an out-of-order producer
          // redelivering the group's true minimum late). The old code
          // silently anti-joined that doc away, quietly breaking the
          // streaming-union == batch-manifest equivalence DailyIngest-
          // Spec asserts; now it throws. Guarding the md5-collision
          // case itself (not a blanket ascending-doc_id contract)
          // keeps replays of gate-failed docs — which never enter the
          // manifest and so re-present as "fresh" on every replay —
          // idempotent, and costs one limit-1 action over a join of
          // tables this stage already scans.
          val viol = byId.join(
              cur.select(col("text_md5").as("__md5"),
                col("doc_id").as("__manifested_id")),
              Seq("__md5"))
            .where(col("doc_id") < col("__manifested_id"))
            .select("doc_id", "__manifested_id").limit(1).collect()
          require(viol.isEmpty,
            s"daily-ingest: out-of-order drain — doc_id ${viol.headOption.map(_.get(0)).orNull} " +
              s"arrived after its exact-dup group was manifested under higher doc_id " +
              s"${viol.headOption.map(_.get(1)).orNull}; first-write-wins would silently " +
              "diverge from the batch manifest's min-doc_id-per-md5 rule")
          byId.join(cur.select(col("text_md5").as("__md5")), Seq("__md5"), "left_anti")
            .drop("__md5")
        case None => cand
      }
      // the batch manifest SQL, verbatim, over this batch's slice —
      // the view is resolved at analysis time, so dropping it after
      // sql() leaves the plan intact. View and sql() go through the
      // SLICE's own session: inside foreachBatch the batch DataFrame
      // lives in the micro-batch's isolated session clone, and a view
      // registered there is invisible to the outer session (and vice
      // versa).
      val ss = fresh.sparkSession
      fresh.createOrReplaceTempView("__ingest_manifest_delta")
      val rows = ss.sql(graft.ops.SqlOps.releaseManifest(
          graft.ops.SparkDialect, from = "__ingest_manifest_delta"))
        .join(fresh.select(col("doc_id"), md5(col("text")).as("text_md5")),
          Seq("doc_id"))
      ss.catalog.dropTempView("__ingest_manifest_delta")
      current.map(_.unionByName(rows)).getOrElse(rows)
    }
  }

  /** Stage 11 — the released set (`<root>/release`): manifest ⋈
    * survivors, a pure function of two published artifacts (trivially
    * idempotent), recomputed per batch because survivorship is NOT
    * monotone — a cluster merge can demote an earlier representative.
    * This is the artifact a downstream consumer ships: every released
    * doc with its shard assignment and redacted-content hash. */
  private[streaming] def ingestRelease(spark: SparkSession, root: String): Unit = {
    val manifest = readState(spark, s"$root/manifest")
      .getOrElse(sys.error(s"daily-ingest: $root/manifest missing (stage order violated)"))
    val survivors = readState(spark, s"$root/survivors")
      .getOrElse(sys.error(s"daily-ingest: $root/survivors missing (stage order violated)"))
    publishParquet(spark, s"$root/release") { _ =>
      manifest.drop("text_md5").join(survivors, Seq("doc_id"), "left_semi")
    }
  }

  /** Stage 12 — the DATASET CARD rollup (`<root>/card`): the release
    * datasheet maintained incrementally next to the manifest. ONE
    * discriminated-row artifact (the annMaintenance precedent — a
    * metric row and the membership set it was computed from can never
    * be observed out of step) holding two row kinds:
    *
    *  - kind='doc' (doc_id, text_md5): every doc ever counted into an
    *    additive delta — the membership set that makes the deltas
    *    exact under any crash/redelivery interleaving (the card has
    *    no doc-grain output of its own to anti-join, unlike
    *    manifest/bands, so it carries its membership explicitly);
    *  - kind='metric' (batch_seq, metric, value, additive):
    *    additive=true rows run the batch card's OWN additive SQL
    *    ([[graft.ops.SqlOps.datasetCardAdditive]], one copy) over
    *    this batch's newly-counted docs — current value = SUM over
    *    batches, proven == the batch card over the replayed corpus
    *    in DailyIngestSpec; additive=false rows are group-grain card
    *    metrics a per-slice delta cannot carry, RECOMPUTED per batch
    *    from published artifacts — quality_pass_docs = manifest rows
    *    (the corpus-filter survivor count, already proven equal to
    *    the batch gate), exact_dup_groups/docs from this artifact's
    *    own text_md5 membership (cross-batch groups included),
    *    sources/max_source_share_ppm from the admitted artifact —
    *    so the LATEST batch_seq row is current.
    *
    * Replay-idempotent twice over: the membership anti-join makes a
    * redelivered doc contribute zero to every additive delta, and
    * metric rows are keyed by batch_seq (first-write-wins), so a
    * replayed batch cannot append a second zero-delta row set.
    * Scale: compute ∝ batch slice + one count/aggregate per artifact
    * read; the swap write is ∝ artifact like every stage here. */
  private[streaming] def ingestCard(spark: SparkSession, batch: DataFrame,
                                    batchSeq: Long, root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    val manifest = readState(spark, s"$root/manifest")
      .getOrElse(sys.error(s"daily-ingest: $root/manifest missing (stage order violated)"))
    val nQualityPass = manifest.count()
    val srcRow = admitted.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_sources"), coalesce(max(col("c")), lit(0L)).as("max_c"),
        coalesce(sum(col("c")), lit(0L)).as("tot"))
      .head()
    val nSources = srcRow.getAs[Long]("n_sources")
    // exact int64 ppm (the batch card's idiv): 10^6·max_c wraps int64
    // only past ~9.2e12 admitted docs of one source — loud, not silent
    val maxShare =
      if (srcRow.getAs[Long]("tot") == 0L) 0L
      else {
        val maxC = srcRow.getAs[Long]("max_c")
        require(maxC <= Long.MaxValue / 1000000L,
          s"daily-ingest card: max per-source count $maxC overflows the ppm envelope")
        1000000L * maxC / srcRow.getAs[Long]("tot")
      }
    publishParquet(spark, s"$root/card") { current =>
      val cand = batch.select(col("doc_id"), col("text"))
        .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id")
      val counted = current.map(_.filter(col("kind") === "doc").select("doc_id"))
      val fresh = counted
        .map(c => cand.join(c, Seq("doc_id"), "left_anti")).getOrElse(cand)
        .localCheckpoint(eager = false) // read 3×: delta SQL, doc rows, dup agg
      // additive deltas: the batch card's additive SQL, verbatim, over
      // the slice (view + sql through the slice's OWN session — the
      // ingestManifest session-clone rule)
      val ss = fresh.sparkSession
      fresh.createOrReplaceTempView("__ingest_card_slice")
      val additive = ss.sql(graft.ops.SqlOps.datasetCardAdditive(
          graft.ops.SparkDialect, from = "__ingest_card_slice"))
        .select(col("metric"), col("value"), lit(true).as("additive"))
      ss.catalog.dropTempView("__ingest_card_slice")
      // group-grain recomputes: dup groups over the FULL membership
      // (prior doc rows ∪ this slice) — cross-batch exact-dup groups
      // are exactly what a per-slice delta cannot see
      val allMd5 = {
        val freshMd5 = fresh.select(md5(col("text")).as("text_md5"))
        current.map(_.filter(col("kind") === "doc").select("text_md5")
          .unionByName(freshMd5)).getOrElse(freshMd5)
      }
      val dupRow = allMd5.groupBy("text_md5").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") >= 2, 1L).otherwise(0L)), lit(0L)).as("dup_groups"),
          coalesce(sum(when(col("c") >= 2, col("c")).otherwise(0L)), lit(0L)).as("dup_docs"))
        .head()
      val recomputed = {
        import ss.implicits._
        Seq(("quality_pass_docs", nQualityPass, false),
          ("exact_dup_groups", dupRow.getAs[Long]("dup_groups"), false),
          ("exact_dup_docs", dupRow.getAs[Long]("dup_docs"), false),
          ("sources", nSources, false),
          ("max_source_share_ppm", maxShare, false))
          .toDF("metric", "value", "additive")
      }
      val metricRows = additive.unionByName(recomputed)
        .select(lit("metric").as("kind"), lit(batchSeq).as("batch_seq"),
          col("metric"), col("value"), col("additive"),
          lit(null).cast("long").as("doc_id"),
          lit(null).cast("string").as("text_md5"))
      val docRows = fresh
        .select(lit("doc").as("kind"), lit(null).cast("long").as("batch_seq"),
          lit(null).cast("string").as("metric"), lit(null).cast("long").as("value"),
          lit(null).cast("boolean").as("additive"),
          col("doc_id"), md5(col("text")).as("text_md5"))
      val fresh2 = current match {
        // metric rows first-write-wins on batch_seq (the history rule);
        // doc rows are membership-gated above, so both kinds append-only
        case Some(cur) =>
          val seen = cur.filter(col("kind") === "metric").select("batch_seq").distinct()
          val newMetrics = metricRows.join(seen, Seq("batch_seq"), "left_anti")
          cur.unionByName(newMetrics.unionByName(docRows))
        case None => metricRows.unionByName(docRows)
      }
      fresh2
    }
  }

  /** Stage 13 — the REJECTS dead-letter channel (`<root>/rejects`,
    * cols batch_seq, doc_id, source, reason): every document the
    * pipeline dropped, recorded WITH its reason — the quarantine
    * audit trail a production ingest owes its operators (today a
    * dropped doc simply never appears in any artifact; "why isn't doc
    * X in the release" is unanswerable without replaying the gates).
    * Reasons, each recomputed deterministically from the batch plus
    * published artifacts (never from transient state):
    *  - 'invalid'      — NULL source (admission can't even quota it);
    *                     rows with NULL doc_id have no recordable
    *                     identity and are deliberately not rowed —
    *                     the pii/volume monitors see them in counts
    *  - 'quota'        — valid but absent from the admitted artifact
    *                     (the per-source cap); stable across replays
    *                     because a source's lifetime count only grows
    *  - 'quality_gate' — admitted, not manifested, and its text_md5
    *                     appears NOWHERE in the manifest: the gate
    *                     dropped its whole identical-text group
    *                     (identical text scores identically, so md5
    *                     absence ⟺ gate failure — the classification
    *                     never re-derives the gate, it reads the
    *                     manifest the real gate already wrote)
    *  - 'exact_dup'    — admitted, not manifested, but its text_md5
    *                     group IS manifested under another doc
    *                     (first-write-wins, in-batch or cross-batch);
    *                     stable because the manifest only grows
    * Doc-grain membership, first standing reason wins, and a row is
    * HEALED (dropped) the batch its doc enters the manifest: 'quota'
    * and 'invalid' are properties of a delivery, not of the doc_id —
    * a later redelivery with a corrected source (or after a quota
    * widening) can legitimately be admitted and released, and an
    * audit that still calls a RELEASED doc rejected is wrong. So the
    * artifact's contract is "why is doc X not in the release NOW":
    * carried rows are anti-joined against the manifest each batch,
    * which keeps the manifested-XOR-rejected accounting an invariant
    * (gate/dup docs never enter the manifest, so those rows are
    * simply permanent). A still-unreleased doc keeps its FIRST
    * standing reason even if a redelivery would reclassify it (e.g.
    * corrected-source doc whose text is a dup: 'invalid' stands until
    * release). Deterministic: the retained set is a pure function of
    * (deliveries so far, manifest), so replay converges. */
  private[streaming] def ingestRejects(spark: SparkSession, batch: DataFrame,
                                       batchSeq: Long, root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    val manifest = readState(spark, s"$root/manifest")
      .getOrElse(sys.error(s"daily-ingest: $root/manifest missing (stage order violated)"))
    publishParquet(spark, s"$root/rejects") { current =>
      // heal first: carried rows whose doc is NOW manifested drop out
      // (a released doc must not stay marked rejected — see docstring)
      val carried = current.map(
        _.join(manifest.select("doc_id"), Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = false)) // read twice: known + output
      val rows = batch.filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
        .dropDuplicates("doc_id")
      val known = carried.map(_.select("doc_id").distinct())
      val fresh = known.map(k => rows.join(k, Seq("doc_id"), "left_anti"))
        .getOrElse(rows)
        .localCheckpoint(eager = false) // read by all four reason arms
      val invalid = fresh.filter(col("source").isNull)
        .select(col("doc_id"), col("source"), lit("invalid").as("reason"))
      val valid = fresh.filter(col("source").isNotNull)
      val quotaRej = valid.join(admitted.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), lit("quota").as("reason"))
      // gate/dup classification WITHOUT re-deriving the gate: after
      // ingestManifest ran (stage order), the manifest holds the
      // minimum of every gate-PASSING md5 group — so an admitted,
      // non-manifested doc whose md5 IS manifested was dropped as an
      // exact dup (in-batch or cross-batch), and one whose md5 is NOT
      // manifested failed the quality gate (its whole identical-text
      // group shares that fate — identical text scores identically).
      // Deliberately not corpusFilter-over-the-slice: its SurvivorGate
      // rn term is a within-slice dedup that would misfile an
      // in-batch dup as a gate failure.
      val admRej = valid
        .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(manifest.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("__md5", md5(col("text")))
        .localCheckpoint(eager = false) // read by both reason arms
      val manifestMd5 = manifest.select(col("text_md5").as("__md5")).distinct()
      val dupRej = admRej.join(manifestMd5, Seq("__md5"), "left_semi")
        .select(col("doc_id"), col("source"), lit("exact_dup").as("reason"))
      val gateRej = admRej.join(manifestMd5, Seq("__md5"), "left_anti")
        .select(col("doc_id"), col("source"), lit("quality_gate").as("reason"))
      val newRows = invalid.unionByName(quotaRej).unionByName(gateRej)
        .unionByName(dupRej)
        .select(lit(batchSeq).as("batch_seq"), col("doc_id"), col("source"),
          col("reason"))
      carried.map(_.unionByName(newRows)).getOrElse(newRows)
    }
  }

  /** One micro-batch of the composed daily-ingest pipeline. Exposed so
    * a scheduled batch job (the reference's cron shape) can call it on
    * a day's drain directly; [[dailyIngest]] wraps it for Structured
    * Streaming.
    *
    * Crash-safety by LAYERED MEMBERSHIP, not transactions: each stage
    * publishes its own artifact atomically ([[publishParquet]]) and
    * derives its work set by anti-joining its predecessor's artifact
    * against its own — admitted ∖ signed, signed ∖ clustered. A crash
    * between ANY two publishes leaves a prefix of artifacts advanced;
    * on redelivery the earlier stages no-op (membership) and the first
    * un-advanced stage finds its backlog in the predecessor artifact.
    * Combined with edge-set idempotence of the cluster fold, the whole
    * pipeline is exactly-once-EFFECT under at-least-once delivery.
    *
    * Scale note: the swap protocol rewrites each artifact per batch —
    * the COMPUTE is ∝ delta but the WRITE is ∝ artifact. At 100 TB the
    * identical stage logic runs against a table format with atomic
    * appends (or date-partitioned dirs); the membership anti-joins and
    * the contracted cluster fold carry over unchanged. */
  def dailyIngestBatch(spark: SparkSession, batch: DataFrame,
                       quota: Int, root: String): Unit = {
    ingestAdmit(spark, batch, quota, root)
    ingestSign(spark, batch, root)
    ingestCluster(spark, root)
    ingestSurvivors(spark, root)
  }

  /** The streaming daily-ingest pipeline: each micro-batch of raw docs
    * (doc_id, source, text) flows quota gate → minhash band index →
    * incremental cluster map → survivor manifest. Run with
    * `Trigger.AvailableNow` over a landing directory for the
    * reference's idempotent daily-batch semantics, or continuously for
    * a live feed. Restart-safe: see [[dailyIngestBatch]]. */
  def dailyIngest(spark: SparkSession, docs: DataFrame, quota: Int,
                  stateRoot: String, checkpointDir: String) = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dailyIngestBatch(spark, batch, quota, stateRoot)
      }
  }

  // --------------------------------------------------------------------
  // MONITORED daily ingest: the dedup chain composed with ANN index
  // maintenance and the drift/volume monitors, one foreachBatch body —
  // the full production drain (gate → dedup → index → report) instead
  // of monitors running standalone next to the pipeline.
  // --------------------------------------------------------------------

  /** Stage 5 — fold the batch's ADMITTED vectors into the maintained
    * IVF index (`<root>/ivf`, the [[annMaintenanceBatch]] artifact).
    * Work set = batch ∩ admitted: rejected docs never reach the index,
    * and a replayed vector is already a member so the merge no-ops.
    * Crash-safe under the same redelivery contract as stages 1–4: a
    * batch whose body died is redelivered whole, and this stage's
    * work set is recomputed from the batch against the authoritative
    * admitted artifact. */
  private[streaming] def ingestIndex(spark: SparkSession, batch: DataFrame,
                                     centroids: DataFrame, root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    val vecs = batch.select(col("doc_id"), col("embedding"))
      .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    annMaintenanceBatch(spark, vecs, centroids, s"$root/ivf")
  }

  /** Order-independent signature of a batch's DISTINCT non-null doc
    * ids (bit_xor of xxhash64 — no overflow under ANSI) plus their
    * count. Computed from the RAW batch, before any stage runs: a
    * true redelivery carries the same docs and reproduces the pair
    * bit-for-bit, while NEW data under a recycled batch id (a stream
    * restarted on a fresh checkpoint against a live stateRoot) cannot
    * — and because the signature needs no published artifact, the
    * clash check can run BEFORE stage 1 mutates anything. Signing the
    * whole batch (not the admitted work set, as before) also closes
    * the all-quota-rejected hole: new data whose every doc the gate
    * rejects still signs differently from the original batch. The
    * count disambiguates the xor of a set from the xor of a subset
    * that happens to collide; an empty batch signs (0, 0) — two empty
    * batches are genuinely indistinguishable, and harmlessly so (an
    * empty batch folds nothing into any artifact). Distinctness makes
    * an in-batch duplicate row sign identically to its single copy —
    * membership already makes the two equivalent downstream. */
  private[streaming] def batchSignature(batch: DataFrame): (Long, Long) = {
    val r = batch.select(col("doc_id")).filter(col("doc_id").isNotNull).distinct()
      .agg(coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)), count(lit(1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Stage 6 — the admission-volume history (`<root>/history`, cols
    * batch_seq, n_admitted, batch_sig, n_sig): one row per drained
    * batch recording the LIFETIME admitted count after that batch —
    * the time series the EWMA volume monitor watches — plus the
    * [[batchSignature]] pair for the recycled-batch-id clash check,
    * which runs in [[dailyIngestMonitoredBatch]] BEFORE stage 1 (an
    * abort must precede any artifact mutation, not follow five of
    * them). Keyed by the engine's batch id; first-write-wins: under
    * at-least-once only the LAST batch is ever redelivered, and its
    * admissions are already folded into the admitted artifact when
    * its history row is first written — so an existing row is already
    * correct, and keeping it makes even an out-of-order replay (which
    * the other artifacts tolerate by membership) unable to rewrite
    * history with a later lifetime count. History artifacts written
    * before the signature columns existed (or with the r8
    * admitted-work-set admit_sig) upgrade in place through the
    * null-filling union: their rows keep NULL signatures, which the
    * precheck skips — the guard covers every batch drained after the
    * upgrade instead of throwing an unresolved-column error on the
    * first post-upgrade drain. */
  private[streaming] def ingestHistory(spark: SparkSession, batchSeq: Long,
                                       batchSig: Long, nSig: Long,
                                       root: String): Unit = {
    val admitted = readState(spark, s"$root/admitted")
      .getOrElse(sys.error(s"daily-ingest: $root/admitted missing (stage order violated)"))
    val nAdmitted = admitted.count()
    publishParquet(spark, s"$root/history") { current =>
      val row = spark.range(1).select(lit(batchSeq).as("batch_seq"),
        lit(nAdmitted).as("n_admitted"), lit(batchSig).as("batch_sig"),
        lit(nSig).as("n_sig"))
      firstWriteWins(row, current, allowMissing = true)
    }
  }

  /** THE one copy of the first-write-wins append for per-batch report
    * artifacts (history, tokdrift, pii): the new row lands only if
    * its batch_seq is not already recorded, so out-of-order replay
    * cannot rewrite lifetime records. `allowMissing` backfills
    * columns an upgrade added (the history artifact's admit-sig
    * migration) with NULLs on pre-upgrade rows — a semantics fix here
    * now reaches every report, instead of three drifting copies. */
  private def firstWriteWins(row: DataFrame, current: Option[DataFrame],
                             allowMissing: Boolean = false): DataFrame =
    current match {
      case Some(cur) => cur.unionByName(
        row.join(cur.select("batch_seq"), Seq("batch_seq"), "left_anti"),
        allowMissingColumns = allowMissing)
      case None => row
    }

  /** EWMA volume gate over the admission history — the
    * [[graft.ops.SqlOps.anomalyEwma]] shape applied to per-drain NEW
    * admissions: the same exponential weight table equi-joined through
    * the lag offset (history × 61 rows, never a history² nested loop),
    * forecast = previous EWMA, flag when the forecast residual deviates
    * from the residual median by > 3 robust sigmas (1.4826·MAD, floored
    * — a perfectly regular feed has MAD = 0 and must not flag every
    * drain). History is one row per drain, so this input is
    * calendar-bounded at any corpus scale. */
  def ewmaAdmissionGate(history: DataFrame,
                        alpha: Double = graft.ops.EwmaParams.Alpha.toDouble,
                        lookback: Int = graft.ops.EwmaParams.Lookback): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._
    val wt = (0 to lookback).map(k => (k.toLong, alpha * math.pow(1 - alpha, k)))
      .toDF("k", "w")
    val w = org.apache.spark.sql.expressions.Window.orderBy("batch_seq")
    val deltas = history
      .withColumn("delta",
        col("n_admitted") - coalesce(lag(col("n_admitted"), 1).over(w), lit(0L)))
      .withColumn("t", row_number().over(w).cast("long"))
      .select(col("batch_seq"), col("t"), col("delta"))
    // explicit cross join: wt is BUILT as exactly the 0..lookback
    // weights, so there is no residual predicate to express — a fake
    // always-true condition here would misread as a data-driven bound
    val terms = deltas.alias("a")
      .crossJoin(wt)
      .join(deltas.alias("b"), col("b.t") === col("a.t") - col("k"))
      .groupBy(col("a.batch_seq").as("batch_seq"), col("a.t").as("t"),
        col("a.delta").as("delta"))
      .agg((sum(col("w") * col("b.delta")) / sum(col("w"))).as("ewma"))
    val fc = terms
      .withColumn("forecast", lag(col("ewma"), 1)
        .over(org.apache.spark.sql.expressions.Window.orderBy("t")))
      .withColumn("residual", col("delta").cast("double") - col("forecast"))
    val med = fc.filter(col("residual").isNotNull)
      .agg(expr("percentile(residual, 0.5)").as("med"))
    val mad = fc.filter(col("residual").isNotNull).crossJoin(med)
      .agg(expr("percentile(abs(residual - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
    fc.crossJoin(mad)
      .select(col("batch_seq"), col("delta").as("n_new_admitted"),
        col("forecast"), col("residual"),
        // threshold single-sourced with the batch monitor
        // (SqlOps.anomalyEwma): EwmaParams.thresholdFactor is the same
        // correctly-rounded double product the SQL side computes
        when(col("residual").isNotNull &&
          abs(col("residual") - col("med")) >
            lit(graft.ops.EwmaParams.thresholdFactor) *
              greatest(col("mad"), lit(graft.ops.EwmaParams.MadFloor.toDouble)), 1)
          .otherwise(0).as("is_anomaly"))
  }

  /** Stage 7 — the monitoring readout, pure functions of the published
    * artifacts (trivially idempotent):
    *  - `<root>/drift`: [[ivfDriftReport]] per IVF cell (retrain flag);
    *  - `<root>/ewma`: [[ewmaAdmissionGate]] over the volume history;
    *  - `<root>/metrics`: corpus-health counters — admitted per source
    *    (quota pressure), survivor count, duplicate-cluster size
    *    histogram (dedup health), IVF cell occupancy (index balance). */
  private[streaming] def ingestReport(spark: SparkSession, centroids: DataFrame,
                                      root: String): Unit = {
    def state(name: String): DataFrame = readState(spark, s"$root/$name")
      .getOrElse(sys.error(s"daily-ingest: $root/$name missing (stage order violated)"))
    val ivf = state("ivf")
    publishParquet(spark, s"$root/drift")(_ => ivfDriftReport(ivf, centroids))
    val history = state("history")
    publishParquet(spark, s"$root/ewma")(_ => ewmaAdmissionGate(history))
    val admitted = state("admitted")
    val survivors = state("survivors")
    val clusters = state("clusters")
    publishParquet(spark, s"$root/metrics") { _ =>
      val bySource = admitted.groupBy("source").agg(count(lit(1)).as("value"))
        .select(concat(lit("admitted:"), col("source")).as("metric"), col("value"))
      val nSurv = survivors.agg(count(lit(1)).as("value"))
        .select(lit("survivors").as("metric"), col("value"))
      val clusterHist = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("value"))
        .select(concat(lit("cluster_size:"), col("sz")).as("metric"), col("value"))
      val cellOcc = ivf.filter(col("kind") === "member")
        .groupBy("cell").agg(count(lit(1)).as("value"))
        .select(concat(lit("ivf_cell:"), col("cell")).as("metric"), col("value"))
      bySource.unionByName(nSurv).unionByName(clusterHist).unionByName(cellOcc)
    }
  }

  /** Stage 8 (optional) — tokenizer drift (`<root>/tokdrift`, one row
    * per drained batch, first-write-wins like the volume history):
    * the incoming batch's word tokens joined against the TRAINED
    * unigram-LM vocabulary (`tokVocab`, a `piece` column — e.g. the
    * pruned `ulm_pv*` table), reporting
    *  - `oov_char_rate` — tf-weighted fraction of word tokens
    *    containing a character that is not a single-char vocab piece
    *    (a true out-of-vocabulary word: the trained segmenter cannot
    *    represent it at all);
    *  - `multi_hit_rate` — tf-weighted fraction of word tokens
    *    containing at least one multi-char vocab piece as a substring
    *    (the fertility proxy: when the learned multi-char pieces stop
    *    matching incoming text, every word degenerates to single-char
    *    segmentation and this rate collapses).
    * Both are exact integer-ratio metrics (µ-quantized), tokenized by
    * the same `word_shingles` expression as the batch ULM trainer's
    * tf index. `flag` trips when either crosses its threshold — the
    * health signal beside the embedding/volume monitors that says
    * "retrain the tokenizer", which no embedding- or volume-level
    * monitor can see. */
  private[streaming] def tokenizerDriftBatch(spark: SparkSession, batch: DataFrame,
                                             batchSeq: Long, tokVocab: DataFrame,
                                             root: String,
                                             maxOovMu: Long = 100000L,
                                             minMultiHitMu: Long = 500000L): Unit = {
    graft.functions.GraftFunctions.registerAll(spark)
    val words = batch.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .selectExpr("explode(word_shingles(text, 1)) AS w")
      .groupBy("w").agg(count(lit(1)).as("tf"))
    val singles = tokVocab.filter(length(col("piece")) === 1).select("piece")
    val multis = tokVocab.filter(length(col("piece")) > 1).select("piece")
    val chars = words.select(col("w"), col("tf"),
        explode(expr("sequence(1, length(w))")).as("i"))
      .select(col("w"), col("tf"), expr("substr(w, i, 1)").as("ch"))
    val oovWords = chars.join(singles, chars("ch") === singles("piece"), "left_anti")
      .select("w").distinct()
    // the multi-piece probe is a broadcast substring scan: the trained
    // multi-char vocabulary is target-size-bounded (tiny) by
    // construction, so contains() against every word is a narrow
    // broadcast nested loop, not a shuffle
    val hitWords = words.select("w")
      .join(broadcast(multis), expr("instr(w, piece) > 0"), "left_semi")
    val stats = words
      .join(oovWords.withColumn("is_oov", lit(1L)), Seq("w"), "left")
      .join(hitWords.withColumn("is_hit", lit(1L)), Seq("w"), "left")
      .agg(coalesce(sum(col("tf")), lit(0L)).as("n_words"),
        coalesce(sum(col("tf") * coalesce(col("is_oov"), lit(0L))), lit(0L)).as("oov"),
        coalesce(sum(col("tf") * coalesce(col("is_hit"), lit(0L))), lit(0L)).as("hit"))
      .head()
    val n = stats.getAs[Long]("n_words")
    // empty batch: nothing to measure — record a NULL-rate row (no
    // flag) instead of dividing by zero or faking a healthy 0/1
    val (oovMu, hitMu) =
      if (n == 0L) (None, None)
      else (Some(stats.getAs[Long]("oov") * 1000000L / n),
            Some(stats.getAs[Long]("hit") * 1000000L / n))
    val flag = (oovMu.exists(_ > maxOovMu) || hitMu.exists(_ < minMultiHitMu)) && n > 0
    publishParquet(spark, s"$root/tokdrift") { current =>
      val row = spark.range(1).select(
        lit(batchSeq).as("batch_seq"), lit(n).as("n_words"),
        oovMu.map(lit(_)).getOrElse(lit(null)).cast("long").as("oov_char_rate_mu"),
        hitMu.map(lit(_)).getOrElse(lit(null)).cast("long").as("multi_hit_rate_mu"),
        lit(if (flag) 1 else 0).as("flag"))
      firstWriteWins(row, current)
    }
  }

  /** Stage 9 — PII leak monitor (`<root>/pii`, one row per drained
    * batch, first-write-wins like the volume history): per-kind regex
    * hit totals over the incoming batch, the SAME single-sourced
    * [[graft.ops.SqlOps.PiiPatterns]] the batch release audit and the
    * redaction gate read. ANY hit flags — identifiers in a training
    * corpus are an upstream leak regardless of count; severity
    * triage (Luhn/octet validation, redaction) is the offline
    * release gate's job. One narrow codegen'd aggregate over the
    * batch, no state, no joins. */
  private[streaming] def piiReportBatch(spark: SparkSession, batch: DataFrame,
                                        batchSeq: Long, root: String): Unit = {
    val kinds = graft.ops.SqlOps.PiiPatterns.map(_._1)
    val counts = graft.ops.SqlOps.PiiPatterns.map { case (k, rx) =>
      coalesce(sum(expr(graft.ops.SparkDialect.reCount("text", rx)).cast("long")),
        lit(0L)).as(s"n_$k")
    }
    val r = batch.filter(col("text").isNotNull).agg(counts.head, counts.tail: _*).head()
    val total = kinds.map(k => r.getAs[Long](s"n_$k")).sum
    publishParquet(spark, s"$root/pii") { current =>
      val row = spark.range(1).select(
        (lit(batchSeq).as("batch_seq") +:
          kinds.map(k => lit(r.getAs[Long](s"n_$k")).as(s"n_$k"))) :+
          lit(if (total > 0) 1 else 0).as("flag"): _*)
      firstWriteWins(row, current)
    }
  }

  /** Stage 10 — Good-Turing NOVELTY monitor (`<root>/oov`, one row per
    * drained batch, first-write-wins) + the per-batch vocabulary
    * ledger it reads (`<root>/vocab`, rows (batch_seq, w, tf), also
    * first-write-wins by batch_seq): the distribution-shift signal no
    * volume or embedding monitor can see — "this batch's TOKENS are
    * new". The monitor compares
    *  - `observed_new_mu` — the µ-fraction of this batch's token
    *    occurrences whose TYPE never appeared in any PRIOR batch,
    *    against
    *  - `predicted_new_mu` — the unseen mass Good-Turing predicts from
    *    the history alone, P₀ = N₁/N over the prior batches' counts
    *    (the [[graft.ops.SqlOps.goodTuring]] estimator's headline
    *    number, recomputed here over the ledger),
    * and flags when observed > `noveltyFactor`× predicted: a healthy
    * stationary feed keeps the two close (that is Good-Turing's whole
    * claim), so a large gap means the SOURCE changed, not just the
    * volume. Replay-stable by construction: history is the ledger
    * restricted to batch_seq < current — a redelivered batch whose own
    * rows are already folded still scores against the same history —
    * and both artifacts append first-write-wins. First batch (empty
    * history) records NULL rates and no flag, the tokdrift convention.
    * The ledger is type-cardinality per batch (vocabulary-bounded,
    * never corpus-bounded). */
  private[streaming] def ingestNovelty(spark: SparkSession, batch: DataFrame,
                                       batchSeq: Long, root: String,
                                       noveltyFactor: Long = 3L): Unit = {
    graft.functions.GraftFunctions.registerAll(spark)
    val btf = batch.filter(col("text").isNotNull)
      .selectExpr("explode(word_shingles(text, 1)) AS w")
      .groupBy("w").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // read by the readout AND the ledger fold
    val histCounts = readState(spark, s"$root/vocab")
      .map(_.filter(col("batch_seq") < batchSeq)
        .groupBy("w").agg(sum(col("tf")).as("c"))
        .localCheckpoint(eager = false)) // read by P0 aggregate + anti-join
    val bstats = btf.agg(coalesce(sum(col("tf")), lit(0L)).as("n")).head()
    val n = bstats.getAs[Long]("n")
    val hstats = histCounts.map(_.agg(
      coalesce(sum(col("c")), lit(0L)).as("nh"),
      coalesce(sum(when(col("c") === 1L, 1L).otherwise(0L)), lit(0L)).as("n1")).head())
    val nh = hstats.map(_.getAs[Long]("nh")).getOrElse(0L)
    val (obsMu, predMu) =
      if (n == 0L || nh == 0L) (None, None)
      else {
        val newTf = histCounts.map(h =>
          btf.join(h, Seq("w"), "left_anti")
            .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)).getOrElse(0L)
        (Some(newTf * 1000000L / n),
          Some(hstats.map(_.getAs[Long]("n1")).getOrElse(0L) * 1000000L / nh))
      }
    val flag = obsMu.zip(predMu).exists { case (o, p) => o > noveltyFactor * p }
    publishParquet(spark, s"$root/oov") { current =>
      val row = spark.range(1).select(
        lit(batchSeq).as("batch_seq"), lit(n).as("n_tokens"),
        obsMu.map(lit(_)).getOrElse(lit(null)).cast("long").as("observed_new_mu"),
        predMu.map(lit(_)).getOrElse(lit(null)).cast("long").as("predicted_new_mu"),
        lit(if (flag) 1 else 0).as("flag"))
      firstWriteWins(row, current)
    }
    publishParquet(spark, s"$root/vocab") { current =>
      val rows = btf.select(lit(batchSeq).as("batch_seq"), col("w"), col("tf"))
      firstWriteWins(rows, current)
    }
  }

  /** Stage 12 — the release DECISION log (`<root>/release_log`, one
    * row per drained batch, first-write-wins by batch_seq): the
    * composition of the Good-Turing novelty monitor into the release
    * decision. POLICY (deliberate, recorded per batch rather than
    * enforced as a gate): a novelty-flagged batch STILL RELEASES, and
    * this artifact records that decision with its rationale —
    *  - released membership must stay a pure function of the
    *    delivered DOC SET: quarantining on a batch-level statistic
    *    would make the released set depend on how docs happened to be
    *    grouped into micro-batches, breaking the crash/replay and
    *    batch-boundary invariance DailyIngestSpec pins (replay with
    *    different boundaries must converge to the same artifacts);
    *  - novelty is a SHIFT signal, not a quality verdict: the gates
    *    that hold individually-bad docs out (quality, PII, exact/near
    *    dup, quota) have already run per doc — a 3× out-of-vocabulary
    *    batch is evidence the SOURCE changed and a human should look,
    *    which is exactly what an auditable flagged-release row is for.
    * Reads the published oov artifact (stage order: after
    * [[ingestNovelty]]); decision is 'release' under the current
    * policy, rationale 'novelty_flagged_release_pending_review' when
    * the batch's oov row flagged, else 'normal'. A gate variant would
    * write decision 'hold' here and filter the release join — the
    * schema is the contract, the policy is one row-literal. */
  private[streaming] def ingestReleaseDecision(spark: SparkSession,
                                               batchSeq: Long,
                                               root: String): Unit = {
    val oov = readState(spark, s"$root/oov")
      .getOrElse(sys.error(s"daily-ingest: $root/oov missing (stage order violated)"))
    val flagged = oov.filter(col("batch_seq") === batchSeq)
      .select("flag").limit(1).collect()
      .headOption.exists(_.getInt(0) == 1)
    publishParquet(spark, s"$root/release_log") { current =>
      val row = spark.range(1).select(
        lit(batchSeq).as("batch_seq"),
        lit(if (flagged) 1 else 0).as("novelty_flag"),
        lit("release").as("decision"),
        lit(if (flagged) "novelty_flagged_release_pending_review"
            else "normal").as("rationale"))
      firstWriteWins(row, current)
    }
  }

  /** One micro-batch of the MONITORED pipeline: the recycled-batch-id
    * precheck, then the dedup chain ([[dailyIngestBatch]]), index
    * maintenance, volume history, the monitor readouts, the PII leak
    * monitor, the Good-Turing novelty monitor,
    * and (when a trained vocabulary is supplied) the
    * tokenizer drift report. Same
    * layered-membership crash safety — each stage derives its work
    * set from the batch plus the published artifacts, so any
    * crash/redelivery interleaving converges to the same artifacts. */
  def dailyIngestMonitoredBatch(spark: SparkSession, batch: DataFrame,
                                batchSeq: Long, quota: Int,
                                centroids: DataFrame, root: String,
                                tokVocab: Option[DataFrame] = None): Unit = {
    // recycled-batch-id PRECHECK, before any artifact is mutated: the
    // full-batch signature needs no published state, so new data under
    // an already-recorded batch_seq aborts here with every artifact
    // intact (checking inside stage 6 protected only the history table
    // — the admitted/bands/clusters/ivf folds were already poisoned by
    // the time the clash surfaced, leaving a dead stream over corrupt
    // state). Rows without signatures (pre-upgrade history) skip the
    // check — the guard covers every batch drained after the upgrade.
    val (batchSig, nSig) = batchSignature(batch)
    readState(spark, s"$root/history").foreach { cur =>
      if (cur.columns.contains("batch_sig") && cur.columns.contains("n_sig")) {
        val clash = cur.filter(col("batch_seq") === batchSeq)
          .filter(col("batch_sig").isNotNull && col("n_sig").isNotNull)
          .filter(col("batch_sig") =!= batchSig || col("n_sig") =!= nSig)
          .count()
        if (clash > 0) sys.error(
          s"daily-ingest: history batch_seq=$batchSeq already recorded with a " +
            "different batch signature — this is new data under a recycled " +
            "batch id (the stream's checkpointDir was reset against a live " +
            "stateRoot; their lifetimes must be coupled), not a replay; " +
            "aborting before any artifact is mutated")
      }
    }
    dailyIngestBatch(spark, batch, quota, root)
    ingestManifest(spark, batch, root)
    ingestRelease(spark, root)
    ingestCard(spark, batch, batchSeq, root)
    ingestRejects(spark, batch, batchSeq, root)
    ingestIndex(spark, batch, centroids, root)
    ingestHistory(spark, batchSeq, batchSig, nSig, root)
    ingestReport(spark, centroids, root)
    piiReportBatch(spark, batch, batchSeq, root)
    ingestNovelty(spark, batch, batchSeq, root)
    ingestReleaseDecision(spark, batchSeq, root)
    tokVocab.foreach(v => tokenizerDriftBatch(spark, batch, batchSeq, v, root))
  }

  /** The streaming wrapper for the monitored drain: raw docs
    * (doc_id, source, text, embedding) flow gate → band index →
    * clusters → survivors → release manifest (per-doc enrichment +
    * the composed released set) → IVF maintenance → drift/EWMA/health
    * reports (and tokenizer drift when `tokVocab` is supplied), one
    * atomic-swap artifact per stage. */
  def dailyIngestMonitored(spark: SparkSession, docs: DataFrame, quota: Int,
                           centroids: DataFrame, stateRoot: String,
                           checkpointDir: String,
                           tokVocab: Option[DataFrame] = None) = {
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dailyIngestMonitoredBatch(spark, batch, batchId, quota, centroids,
          stateRoot, tokVocab)
      }
  }

  /** Streaming EXPERIMENT monitor — the per-batch twin of the batch
    * two-proportion readout ([[graft.ops.SqlOps.abTest]]): arriving
    * events fold into a user-grain conversion state
    * (`<root>/ab_users`, cols user_id, arm, converted) merged by MAX
    * — a user who ever made a value>150 purchase stays converted, so
    * at-least-once redelivery is a no-op by construction — and each
    * drained batch appends its cumulative z readout to
    * `<root>/ab_log` (first-write-wins by batch_seq, the history
    * convention: a replayed batch's row is whatever the ORIGINAL
    * drain saw, even if the state has since advanced). The statistic
    * itself is the SAME rendered SQL as the batch test
    * ([[graft.ops.SqlOps.abTestFromUsers]] — shared twoPropAggCtes +
    * twoPropZSelect pieces), so stream and batch cannot drift; the
    * parity spec asserts the final log row equals q_ab_test over the
    * union of all delivered events. Scale: the state is
    * user-cardinality, the per-batch work is one batch-grain
    * aggregate plus a user-grain MAX merge — cost ∝ batch + state,
    * the ingest-artifact discipline. */
  def abMonitorBatch(spark: SparkSession, batch: DataFrame,
                     batchSeq: Long, root: String): Unit = {
    val delta = batch
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1)
        .otherwise(0)).cast("int").as("converted"))
      .withColumn("arm", col("user_id") % 2)
      .select("user_id", "arm", "converted")
    publishParquet(spark, s"$root/ab_users") { current =>
      val all = current match {
        case Some(cur) => cur.unionByName(delta)
        case None => delta
      }
      all.groupBy("user_id", "arm")
        .agg(max(col("converted")).cast("int").as("converted"))
    }
    val st = readState(spark, s"$root/ab_users")
      .getOrElse(sys.error(s"ab-monitor: $root/ab_users missing after publish"))
    // foreachBatch gotcha: register the view on the DataFrame's OWN
    // session (a micro-batch clone) and run the SQL there too.
    // The view name carries (root, batchSeq) so two abMonitorBatch calls
    // sharing one session can't race on a fixed name, and the drop is
    // try/finally so a failing SQL or publish can't leak the view for
    // the session's lifetime (unsigned hex of root.hashCode keeps the
    // identifier valid for any root path).
    val ss = st.sparkSession
    val view =
      s"__ab_users_${java.lang.Integer.toHexString(root.hashCode)}_$batchSeq"
    st.createOrReplaceTempView(view)
    try {
      val z = ss.sql(graft.ops.SqlOps.abTestFromUsers(view))
        .withColumn("batch_seq", lit(batchSeq))
        .select("batch_seq", "n0", "c0", "n1", "c1", "rate_a", "rate_b", "z_score")
      publishParquet(spark, s"$root/ab_log") { current =>
        firstWriteWins(z, current)
      }
    } finally {
      ss.catalog.dropTempView(view); ()
    }
  }

  /** Streaming twin of the PPJoin prefix-filter dedup
    * ([[graft.ops.SqlOps.dedupPrefixDelta]]'s per-batch form): each
    * arriving micro-batch of admitted doc ids PREFIX-PROBES the
    * staged rarity-ranked index (`<indexDir>/pfx_rk` + `pfx_dsh`,
    * the parquet artifacts the batch index pass built) instead of
    * rebuilding it — cost per drain ∝ batch × prefix-bucket, never
    * the corpus self-join. Verified pairs fold into
    * `<root>/pfx_pairs` as a SET (distinct by pair): pair membership
    * is a pure function of the delivered doc set, so at-least-once
    * redelivery re-derives the same rows and the fold is a no-op —
    * the ingest-artifact discipline. The SQL is
    * [[graft.ops.SqlOps.prefixProbeBody]] VERBATIM (the abMonitorBatch
    * shared-pieces protocol): stream and batch cannot drift on
    * prefix length, length filter, or the position-filter α;
    * StreamingSpec asserts the folded set equals the batch probe
    * over the delivered union. View names carry the root hash and
    * drop in try/finally (two streams on one session must not race
    * a fixed name, and a failed batch must not leak views). */
  def prefixProbeBatch(spark: SparkSession, batch: DataFrame,
                       indexDir: String, root: String): Unit = {
    val ss = batch.sparkSession
    val tag = java.lang.Integer.toHexString(root.hashCode)
    val nv = s"__pfx_new_$tag"
    val rv = s"__pfx_rk_$tag"
    val dv = s"__pfx_dsh_$tag"
    batch.select(col("doc_id")).distinct().createOrReplaceTempView(nv)
    ss.read.parquet(s"$indexDir/pfx_rk").createOrReplaceTempView(rv)
    ss.read.parquet(s"$indexDir/pfx_dsh").createOrReplaceTempView(dv)
    try {
      val pairs = ss.sql(graft.ops.SqlOps.prefixProbeBody(nv, rv, dv))
      publishParquet(spark, s"$root/pfx_pairs") {
        case Some(cur) => cur.unionByName(pairs).dropDuplicates("doc_a", "doc_b")
        case None => pairs.dropDuplicates("doc_a", "doc_b")
      }
    } finally {
      Seq(nv, rv, dv).foreach(v => { ss.catalog.dropTempView(v); () })
    }
  }

  // --------------------------------------------------------------------
  // Exactly-once JDBC sink: the reference's staging-table merge
  // (etl.Load.jdbcUpsert) made redelivery-safe for foreachBatch.
  // --------------------------------------------------------------------

  /** Apply one micro-batch to an RDBMS EXACTLY ONCE: a `__ledger`
    * table records every committed epoch id, and the MERGE plus the
    * ledger INSERT run in ONE driver-side transaction — a crash can
    * never apply the merge without recording the epoch or vice versa,
    * so redelivery (which Structured Streaming guarantees for any
    * batch whose body did not complete) is detected by the ledger
    * check and becomes a no-op. That makes the sink exactly-once for
    * ANY merge statement, idempotent or not (an idempotent upsert
    * only needs the ledger for skip cost; an accumulating statement
    * needs it for correctness). The staging-table write is executed
    * by the executors OUTSIDE the transaction — it is a scratch
    * overwrite, harmless to repeat. Returns true when the batch was
    * applied, false when the ledger said it already had been.
    *
    * Ledger DDL contract: `CREATE TABLE <ledger> (batch_id BIGINT
    * PRIMARY KEY)` — the primary key also makes a double-apply race
    * (two drivers on one checkpoint, which Spark itself forbids) fail
    * loudly instead of silently. */
  def jdbcExactlyOnceBatch(batch: DataFrame, batchId: Long, url: String,
                           stagingTable: String, mainTable: String, key: String,
                           ledgerTable: String,
                           dialect: graft.etl.Load.MergeDialect = graft.etl.Load.AnsiMerge,
                           batchSize: Int = 500,
                           props: java.util.Properties = new java.util.Properties): Boolean = {
    // one driver connection for the whole batch: the ledger check runs
    // on the same connection the transaction later uses
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val already = {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT COUNT(*) FROM $ledgerTable WHERE batch_id = $batchId")
          rs.next()
          rs.getLong(1) > 0
        } finally st.close()
      }
      if (already) false
      else {
        // executors write the scratch staging table through the SAME
        // protocol as the batch upsert (one copy: Load.stageOverwrite)
        graft.etl.Load.stageOverwrite(batch, url, stagingTable, batchSize, props)
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          st.execute(dialect.mergeSql(mainTable, stagingTable, batch.columns.toSeq, key))
          st.execute(s"INSERT INTO $ledgerTable (batch_id) VALUES ($batchId)")
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally st.close()
        true
      }
    } finally conn.close()
  }

  /** The streaming wrapper: each micro-batch upserts into `mainTable`
    * through the staging table + transactional ledger protocol of
    * [[jdbcExactlyOnceBatch]]. `dialect`/`batchSize`/`props` thread
    * through unchanged so a non-ANSI target (e.g. Postgres, whose
    * batch path defaults to ON CONFLICT and which may carry
    * credentials outside the URL) can be driven through the streaming
    * sink too. */
  def jdbcExactlyOnce(stream: DataFrame, url: String, stagingTable: String,
                      mainTable: String, key: String, ledgerTable: String,
                      checkpointDir: String,
                      dialect: graft.etl.Load.MergeDialect = graft.etl.Load.AnsiMerge,
                      batchSize: Int = 500,
                      props: java.util.Properties = new java.util.Properties) = {
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        jdbcExactlyOnceBatch(batch, batchId, url, stagingTable, mainTable,
          key, ledgerTable, dialect, batchSize, props)
        ()
      }
  }

  // --------------------------------------------------------------------
  // The monitored drain COMPOSED with the exactly-once RDBMS sink: the
  // two independently-proven pieces in ONE foreachBatch body — the
  // reference's full production shape (scrape → dedup → upsert into
  // Postgres) at the streaming pipeline's scale.
  // --------------------------------------------------------------------

  /** One micro-batch of the monitored pipeline PLUS the exactly-once
    * RDBMS upsert of this batch's released docs: after the artifact
    * stages, the batch's admitted survivors (batch ∩ admitted ∩
    * survivors — admitted but deduplicated-away docs are not
    * released) merge into `mainTable` through the staging-table +
    * ledger transaction of [[jdbcExactlyOnceBatch]] under the same
    * batch id. Returns that call's applied/skipped flag.
    *
    * Crash matrix, all converging under at-least-once redelivery:
    *  - crash between any two artifact publishes → the stages no-op
    *    by membership on redelivery, the ledger has no row, the merge
    *    applies ONCE;
    *  - crash after the ledger commit but before the checkpoint
    *    advances → the stages no-op AND the ledger check skips the
    *    merge — no double-apply;
    *  - the row set is recomputed from the published artifacts, which
    *    is deterministic across redeliveries of the same batch
    *    because only the LAST batch is ever redelivered (no later
    *    batch can have re-clustered this batch's docs in between). */
  def dailyIngestMonitoredSinkBatch(spark: SparkSession, batch: DataFrame,
                                    batchSeq: Long, quota: Int,
                                    centroids: DataFrame, root: String,
                                    url: String, stagingTable: String,
                                    mainTable: String, key: String,
                                    ledgerTable: String,
                                    dialect: graft.etl.Load.MergeDialect = graft.etl.Load.AnsiMerge,
                                    batchSize: Int = 500,
                                    props: java.util.Properties = new java.util.Properties,
                                    tokVocab: Option[DataFrame] = None): Boolean = {
    dailyIngestMonitoredBatch(spark, batch, batchSeq, quota, centroids, root, tokVocab)
    def state(name: String): DataFrame = readState(spark, s"$root/$name")
      .getOrElse(sys.error(s"daily-ingest: $root/$name missing (stage order violated)"))
    val released = batch.select(col("doc_id"), col("source"), col("text"))
      .dropDuplicates("doc_id")
      .join(state("admitted").select("doc_id"), Seq("doc_id"), "left_semi")
      .join(state("survivors").select("doc_id"), Seq("doc_id"), "left_semi")
    jdbcExactlyOnceBatch(released, batchSeq, url, stagingTable, mainTable,
      key, ledgerTable, dialect, batchSize, props)
  }
}
