package graft.streaming

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's keyed-state operators, re-expressed with
  * `flatMapGroupsWithState` — the only pieces of the gmall pipelines with no
  * declarative Spark equivalent (SURVEY.md §4):
  *
  *  - [[repairIsNew]]   ← A16, BaseLogApp.java:156-204 (ValueState firstVisitDate)
  *  - [[dailyUv]]       ← A17, UniqueVisitApp.java:41-74 (ValueState + 1-day TTL)
  *  - [[detectBounces]] ← A18, UserJumpDetailApp.java:51-92 (CEP within-10s timeout)
  *
  * All three key by `mid` (device id) — at scale the state shuffle partitions by
  * device, state per key is O(1) (a date string / one buffered event), and
  * event-time timeouts bound state growth exactly like the reference's
  * StateTtlConfig / CEP `within`.
  *
  * Semantics are event-time per-group; within a micro-batch the group iterator
  * is processed in `ts` order (events of one key may arrive unsorted in a
  * batch — the reference sees them one at a time in arrival order, but sorts
  * implicitly by single-event processing; we sort explicitly for determinism).
  */
object Stateful {

  private def dayOf(tsMillis: Long): String =
    LocalDate.ofInstant(Instant.ofEpochMilli(tsMillis), ZoneOffset.UTC).toString

  // ---------------- A16: new-visitor flag repair ----------------

  /** Per-mid ValueState[firstVisitDate]: an event claiming `is_new=1` on a later
    * day than the device's first-visit date is rewritten to `is_new=0`. */
  def repairIsNew(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .flatMapGroupsWithState[String, LogEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[String]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts, e.page_id))
          val out = sorted.map { e =>
            // EXACT reference machine (BaseLogApp.java:177-201): only
            // is_new=1 events read or write the state — an is_new=0 event
            // passes through untouched and does NOT mark the device as seen
            if (e.is_new != "1") e
            else state.getOption match {
              case Some(first) if first != dayOf(e.ts) => e.copy(is_new = "0")
              case Some(_) => e
              case None => state.update(dayOf(e.ts)); e
            }
          }
          out.iterator
      }
  }

  /** [[repairIsNew]] over the FULL parsed log row, run BEFORE the 3-way split —
    * the reference's operator order (BaseLogApp.java:156-204 repairs, :213-257
    * splits), so start and display outputs also carry the repaired flag.
    * Same per-mid ValueState[firstVisitDate] semantics as the LogEvent twin;
    * [[RawLog.dirty]] rows pass through untouched. */
  def repairIsNewRaw(logs: Dataset[RawLog]): Dataset[RawLog] = {
    import logs.sparkSession.implicits._
    logs
      .groupByKey(rawKey)
      .flatMapGroupsWithState[String, RawLog](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[RawLog], state: GroupState[String]) =>
          val sorted = it.toSeq.sortBy(rawOrder)
          val out = sorted.map { e =>
            if (!claimsNew(e)) e
            else state.getOption match {
              case Some(first) if first != dayOf(e.ts.get) => notNew(e)
              case Some(_) => e
              case None => state.update(dayOf(e.ts.get)); e
            }
          }
          out.iterator
      }
  }

  private def rawKey(e: RawLog): String = e.common.map(_.mid).orNull
  private def rawOrder(e: RawLog) = (e.ts, e.page.flatMap(p => Option(p.page_id)))
  /** Only clean rows claiming is_new=1 read or write the first-visit state. */
  private def claimsNew(e: RawLog): Boolean = !e.dirty && e.common.get.is_new == "1"
  private def notNew(e: RawLog): RawLog = e.copy(common = e.common.map(_.copy(is_new = "0")))

  // ---------------- A17: daily unique-visitor dedup ----------------

  /** Per-mid ValueState[lastVisitDate] with a 1-day event-time TTL: keep only
    * each device's first session-entry event (`last_page_id` empty) per day.
    * Requires a watermark on the input for the timeout clock. */
  def dailyUv(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      // column predicate (not a typed lambda): stays in codegen before the shuffle
      .filter(org.apache.spark.sql.functions.col("last_page_id").isNull ||
        org.apache.spark.sql.functions.col("last_page_id") === "")
      .as[LogEvent]
      .groupByKey(_.mid)
      .flatMapGroupsWithState[String, LogEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[String]) =>
          if (state.hasTimedOut) { // TTL expired: evict, exactly StateTtlConfig(1d)
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(_.ts)
            val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
            sorted.foreach { e =>
              val day = dayOf(e.ts)
              if (!state.getOption.contains(day)) { state.update(day); out += e }
            }
            // TTL parity with StateTtlConfig(1 day): evict at last event + 24h
            state.setTimeoutTimestamp(sorted.last.ts + 86400000L)
            out.iterator
          }
      }
  }

  // ---------------- A18: bounce (jump) detection ----------------

  /** CEP port: a session-entry event (`last_page_id` empty) with NO follow-up
    * page view for the same mid within `gapMillis` is a bounce. Matched pairs
    * are discarded; the timed-out entry event is the result — exactly the
    * reference's timeout-branch semantics. Emission happens either when a
    * later event proves the gap (in-batch) or via event-time timeout once the
    * watermark passes entry_ts + gap. */
  def detectBounces(events: Dataset[LogEvent], gapMillis: Long = 10000L): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .flatMapGroupsWithState[BounceState, LogEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[LogEvent], state: GroupState[BounceState]) =>
          if (state.hasTimedOut) {
            // watermark passed pending.ts + gap with no follow-up: bounce
            val out = state.getOption.map(_.pending).toList
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(_.ts)
            val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
            var pending = state.getOption.map(_.pending)
            sorted.foreach { e =>
              pending match {
                case Some(p) =>
                  if (e.ts > p.ts + gapMillis) { out += p; pending = None }
                  else if (e.ts >= p.ts && e.page_id.exists(_.nonEmpty)) {
                    // later-or-equal page view within the gap: the reference's
                    // next("next").where(page_id != null) match — not a bounce.
                    // Equal timestamps count (coarse client clocks emit the
                    // follow-up in the same millisecond); genuinely earlier
                    // out-of-order events (e.ts < p.ts) must NOT cancel, and
                    // non-page events don't satisfy the CEP next-condition.
                    pending = None
                  }
                case None =>
              }
              // session entry = a PAGE event with no predecessor page
              if (pending.isEmpty && e.page_id.exists(_.nonEmpty) &&
                  e.last_page_id.forall(_.isEmpty)) pending = Some(e)
            }
            pending match {
              case Some(p) =>
                state.update(BounceState(p))
                state.setTimeoutTimestamp(p.ts + gapMillis)
              case None => state.remove()
            }
            out.iterator
          }
      }
  }

  case class BounceState(pending: LogEvent)

  // ---------------- transformWithState ports (state API v2) ----------------

  /** [[repairIsNew]] on the arbitrary-state API v2 (`transformWithState`,
    * Spark 4's successor to flatMapGroupsWithState — typed state handles, the
    * closest analog to the reference's Flink `ValueState` at
    * BaseLogApp.java:156-204). Requires the RocksDB state store provider.
    *
    * Round-1 note: this deadlocked in this container during RocksDB checkpoint
    * upload inside ChecksumCheckpointFileManager. Round 2: disabling the
    * checkpoint-file checksums (`spark.sql.streaming.checkpoint.fileChecksum
    * .enabled=false`, verified by StatefulSpec) avoids that path; equivalence
    * with [[repairIsNew]] is spec-gated cross-batch.
    */
  class RepairIsNewProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, LogEvent, LogEvent] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}

    @transient private var firstDay: ValueState[String] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      firstDay = getHandle.getValueState[String](
        "firstDay", org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[LogEvent],
                                 timerValues: TimerValues): Iterator[LogEvent] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.page_id))
      sorted.map { e =>
        if (e.is_new != "1") e
        else if (!firstDay.exists()) { firstDay.update(dayOf(e.ts)); e }
        else if (firstDay.get() != dayOf(e.ts)) e.copy(is_new = "0")
        else e
      }.iterator
    }
  }

  /** [[repairIsNew]] via transformWithState — semantics-identical twin, gated
    * against the flatMapGroupsWithState version in StatefulSpec. */
  def repairIsNewTws(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .transformWithState(new RepairIsNewProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[repairIsNewRaw]] on state API v2 — the tws twin of the FULL-row repair
    * [[Apps.baseLog]] runs before the 3-way split (the reference's operator
    * order). Same only-is_new=1-touches-state machine as the LogEvent twin. */
  class RepairIsNewRawProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, RawLog, RawLog] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}

    @transient private var firstDay: ValueState[String] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      firstDay = getHandle.getValueState[String](
        "firstDay", org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[RawLog],
                                 timerValues: TimerValues): Iterator[RawLog] = {
      rows.toSeq.sortBy(rawOrder).map { e =>
        if (!claimsNew(e)) e
        else if (!firstDay.exists()) { firstDay.update(dayOf(e.ts.get)); e }
        else if (firstDay.get() != dayOf(e.ts.get)) notNew(e)
        else e
      }.iterator
    }
  }

  /** [[repairIsNewRaw]] via transformWithState; requires the RocksDB provider.
    * Gated end-to-end (checkpoint restart included) in MainsSpec. */
  def repairIsNewRawTws(logs: Dataset[RawLog]): Dataset[RawLog] = {
    import logs.sparkSession.implicits._
    logs
      .groupByKey(rawKey)
      .transformWithState(new RepairIsNewRawProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** [[dailyUv]] on state API v2 with a NATIVE state TTL — the exact
    * StateTtlConfig(1 day) mapping (UniqueVisitApp.java:47-53 configures a
    * processing-time TTL, which is what TTLConfig implements; the
    * flatMapGroupsWithState twin approximates it with an event-time timeout).
    */
  class DailyUvProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, LogEvent, LogEvent] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}

    @transient private var lastDay: ValueState[String] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastDay = getHandle.getValueState[String](
        "lastVisitDate", org.apache.spark.sql.Encoders.STRING, TTLConfig(ttl))

    override def handleInputRows(key: String, rows: Iterator[LogEvent],
                                 timerValues: TimerValues): Iterator[LogEvent] = {
      val sorted = rows.toSeq.sortBy(_.ts)
      val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
      sorted.foreach { e =>
        val day = dayOf(e.ts)
        if (!lastDay.exists() || lastDay.get() != day) { lastDay.update(day); out += e }
      }
      out.iterator
    }
  }

  /** [[dailyUv]] via transformWithState + native TTL; requires the RocksDB
    * provider and processing-time mode (TTL is processing-time by contract,
    * like Flink's). Equivalence with [[dailyUv]] is gated in StatefulSpec. */
  def dailyUvTws(events: Dataset[LogEvent],
                 ttl: java.time.Duration = java.time.Duration.ofDays(1)): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .filter(org.apache.spark.sql.functions.col("last_page_id").isNull ||
        org.apache.spark.sql.functions.col("last_page_id") === "")
      .as[LogEvent]
      .groupByKey(_.mid)
      .transformWithState(new DailyUvProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** [[detectBounces]] on state API v2 with a REAL event-time timer — the
    * closest mapping yet to the reference's CEP `within(10s)` timeout branch
    * (UserJumpDetailApp.java:60-92): the pending session entry registers a
    * timer at entry_ts + gap; a qualifying follow-up deletes it; the timer
    * firing IS the timeout-branch emission. */
  class BounceProcessor(gapMillis: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, LogEvent, LogEvent] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}

    @transient private var pending: ValueState[LogEvent] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      pending = getHandle.getValueState[LogEvent](
        "pending", org.apache.spark.sql.Encoders.product[LogEvent], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[LogEvent],
                                 timerValues: TimerValues): Iterator[LogEvent] = {
      val sorted = rows.toSeq.sortBy(_.ts)
      val out = scala.collection.mutable.ArrayBuffer.empty[LogEvent]
      var cur = if (pending.exists()) Some(pending.get()) else None
      sorted.foreach { e =>
        cur match {
          case Some(p) =>
            if (e.ts > p.ts + gapMillis) { // gap proven in-stream: bounce
              out += p; cur = None; getHandle.deleteTimer(p.ts + gapMillis)
            } else if (e.ts >= p.ts && e.page_id.exists(_.nonEmpty)) {
              // follow-up page view within the gap: not a bounce
              cur = None; getHandle.deleteTimer(p.ts + gapMillis)
            }
          case None =>
        }
        if (cur.isEmpty && e.page_id.exists(_.nonEmpty) && e.last_page_id.forall(_.isEmpty)) {
          cur = Some(e)
          getHandle.registerTimer(e.ts + gapMillis)
        }
      }
      cur match {
        case Some(p) => pending.update(p)
        case None => pending.clear()
      }
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[LogEvent] = {
      // watermark passed entry_ts + gap with no follow-up: the timeout branch
      val out = if (pending.exists()) Iterator.single(pending.get()) else Iterator.empty
      pending.clear()
      out
    }
  }

  /** [[detectBounces]] via transformWithState event-time timers; requires the
    * RocksDB provider and a watermark on the input. Gated in StatefulSpec. */
  def detectBouncesTws(events: Dataset[LogEvent],
                       gapMillis: Long = 10000L): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.mid)
      .transformWithState(new BounceProcessor(gapMillis),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  // ---------------- streaming AS-OF join ----------------

  /** One side of the streaming as-of input: `view_id` set for view events,
    * `purchase_id` set for purchases (mirrors the batch asofJoin's tag). */
  case class AsofEvent(user_id: Long, ts: Long,
                       view_id: Option[Long], purchase_id: Option[Long])

  case class AsofMatch(user_id: Long, purchase_id: Long, asof_view_id: Option[Long])

  /** Streaming twin of `Relational.asofJoin` (q52): per-user ValueState holds
    * the latest view at or before "now"; each purchase emits its as-of match
    * IMMEDIATELY — O(1) state per user, no buffering of the purchase side.
    * This is the production real-time shape of an as-of join: the batch twin
    * proves the semantics against DuckDB's native ASOF JOIN, this one carries
    * them at streaming latency (same-batch events are processed in ts order;
    * a view and purchase at the SAME ts match, as in the batch tie rule). */
  def streamingAsof(events: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsofEvent], state: GroupState[(Long, Long)]) =>
          // state = (latest view ts, latest view id); views sort before
          // purchases at equal ts so same-instant views are visible
          val sorted = it.toSeq.sortBy(e => (e.ts, e.purchase_id.isDefined, e.view_id, e.purchase_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
          var last = state.getOption
          sorted.foreach { e =>
            e.view_id.foreach { v =>
              // keep max view id at equal ts (the batch dedup rule)
              if (last.forall(l => e.ts > l._1 || (e.ts == l._1 && v > l._2)))
                last = Some((e.ts, v))
            }
            e.purchase_id.foreach { p =>
              out += AsofMatch(user, p, last.map(_._2))
            }
          }
          last match {
            case Some(l) => state.update(l)
            case None =>
          }
          out.iterator
      }
  }
}
