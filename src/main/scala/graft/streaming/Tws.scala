package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** `transformWithState` processors — Spark 4's arbitrary-stateful API
  * (SPARK-46815, the successor to `mapGroupsWithState`), exercised as
  * first-class registered queries (`st111`/`st112`/`st116` — multi-
  * variable state, event-time timers, and per-variable TTL
  * respectively). The reference
  * hand-rolls exactly this shape of per-key mutable state in Redis —
  * running accumulators keyed by user (dws/OrderWiderApp.scala:163-191)
  * and per-day first-seen sets (app/Dau.scala:109-118); `GroupState`
  * re-expressed those in earlier rounds (st09/st12), and these two
  * queries re-express them on the NEW API surface a production
  * deployment would adopt today, because it adds exactly what the
  * Redis patterns needed: multiple named, typed state variables per
  * key (ValueState/ListState/MapState), per-variable TTL, and
  * event-time timers — each persisted as its own column family in the
  * RocksDB store (transformWithState requires the RocksDB provider),
  * visible to `StateLockSpec` as separate named stores.
  *
  * Determinism contract (what makes these oracle-checkable): every
  * emission is either (a) a CUMULATIVE per-key profile upserted into a
  * keyed table where the last batch wins — the final row per key is
  * the full-corpus profile regardless of micro-batch slicing
  * ([[UserProfileProcessor]]), or (b) timer-driven with content that
  * is a pure function of state at watermark passage, where the replay
  * harness delivers all real rows before the sentinel advances the
  * watermark ([[OrderTimerProcessor]]; in-order arrival is the same
  * assumption every watermarked query in this suite documents).
  */
object Tws {

  /** One event, pre-projected to the columns the profile needs. */
  case class ProfileEvent(user_id: Long, tsu: Long, event_type: String, cents: Long)

  /** The per-user ValueState payload: the four running accumulators
    * the reference keeps as Redis KV per key.
    */
  case class Profile(n_events: Long, sum_cents: Long, first_us: Long, last_us: Long)

  /** Emitted per key per batch it appears in: the cumulative profile
    * (upsert-last makes the final row slicing-independent).
    */
  case class ProfileOut(user_id: Long, n_events: Long, sum_cents: Long,
                        first_us: Long, last_us: Long,
                        n_types: Long, n_purchase: Long)

  /** st111 — per-user lifetime profile: ValueState for the running
    * (count, sum, min, max) accumulators + MapState for the per-type
    * counts (one map ENTRY per distinct type per user — the state the
    * reference's per-key Redis hash holds). Scale shape: state is
    * O(users × types-per-user) with O(1) update per row; the map
    * state reads only the entries the batch touches, never the whole
    * map (the point of MapState over a ValueState[Map]).
    */
  class UserProfileProcessor
      extends StatefulProcessor[Long, ProfileEvent, ProfileOut] {
    @transient private var profile: ValueState[Profile] = _
    @transient private var typeCounts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      profile = getHandle.getValueState[Profile](
        "profile", Encoders.product[Profile], TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long](
        "typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ProfileEvent],
                                 timerValues: TimerValues): Iterator[ProfileOut] = {
      var p = if (profile.exists()) profile.get()
              else Profile(0L, 0L, Long.MaxValue, Long.MinValue)
      rows.foreach { e =>
        p = Profile(p.n_events + 1, p.sum_cents + e.cents,
          math.min(p.first_us, e.tsu), math.max(p.last_us, e.tsu))
        val c = if (typeCounts.containsKey(e.event_type))
                  typeCounts.getValue(e.event_type) else 0L
        typeCounts.updateValue(e.event_type, c + 1L)
      }
      profile.update(p)
      val nTypes = typeCounts.keys().size.toLong
      val nPurchase = if (typeCounts.containsKey("purchase"))
                        typeCounts.getValue("purchase") else 0L
      Iterator.single(ProfileOut(key, p.n_events, p.sum_cents,
        p.first_us, p.last_us, nTypes, nPurchase))
    }
  }

  /** One event for the TTL'd activity cache, pre-projected. */
  case class ActivityEvent(user_id: Long, tsu: Long, cents: Long)

  /** The TTL'd per-user cache entry. */
  case class Activity(n_events: Long, sum_cents: Long, last_us: Long)

  /** Emitted per key per batch touched (upsert-last, st111's rule). */
  case class ActivityOut(user_id: Long, n_events: Long, sum_cents: Long,
                         last_us: Long)

  /** st116 — the TTL'd serving cache: one ValueState carrying a REAL
    * `TTLConfig`, the API's third leg after st111's multi-variable
    * state and st112's timers. The reference's analog is jedis
    * `expire` on the DAU first-seen keys (app/Dau.scala:109-118 sets
    * the key, the day-scoped expiry makes yesterday's set vanish) —
    * per-key state that SELF-EVICTS after an idle horizon instead of
    * accumulating forever. That is the 100 TB state-bound argument:
    * an un-TTL'd per-user cache grows with the key DOMAIN (every user
    * ever seen); a TTL'd one is bounded by the active working set,
    * and the store reclaims idle keys without a compaction job.
    * `update()` restarts the entry's TTL clock, so a key stays live
    * exactly while traffic keeps touching it — the Redis EXPIRE-on-
    * write idiom verbatim.
    *
    * Determinism contract: TTL expiry is PROCESSING-time — inherently
    * wall-clock — so the registered query ([[graft.streaming
    * .StreamQueries.st116_tws_ttl_cache]]) runs with a TTL (1 h) far
    * beyond any replay's runtime: no eviction can occur mid-run and
    * the upserted result equals the batch aggregate (hash-checked).
    * Eviction itself is proven where wall-clock belongs — in
    * `TwsSpec`, with a short TTL and a real sleep across restarts:
    * the value written in run 1 is gone in run 2 and the cache
    * restarts from zero, while the long-TTL twin test shows the same
    * kill/resume CONTINUING. One state variable, O(1) per row.
    */
  class TtlActivityProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, ActivityEvent, ActivityOut] {
    @transient private var activity: ValueState[Activity] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      activity = getHandle.getValueState[Activity](
        "activity", Encoders.product[Activity], TTLConfig(ttl))

    override def handleInputRows(key: Long, rows: Iterator[ActivityEvent],
                                 timerValues: TimerValues): Iterator[ActivityOut] = {
      var a = if (activity.exists()) activity.get()
              else Activity(0L, 0L, Long.MinValue)
      rows.foreach { e =>
        a = Activity(a.n_events + 1, a.sum_cents + e.cents,
          math.max(a.last_us, e.tsu))
      }
      activity.update(a) // restarts this entry's TTL clock
      Iterator.single(ActivityOut(key, a.n_events, a.sum_cents, a.last_us))
    }
  }

  /** One order, pre-projected for the timer ledger (`ts` keeps the
    * watermarked TimestampType column so event-time mode validates).
    */
  case class OrderArrival(o_custkey: Long, o_orderkey: Long, ts: java.sql.Timestamp)

  /** Emitted when an order's +30-day timer fires. */
  case class OrderHorizon(o_orderkey: Long, o_custkey: Long, n_within: Long)

  val ThirtyDaysMs: Long = 30L * 86400L * 1000L

  /** st112 — event-time timers over ListState: each order registers a
    * timer at `o_orderdate + 30 days`; when the watermark passes that
    * horizon the customer's ledger is judged and the order emits with
    * the count of the customer's orders dated on-or-before its
    * horizon. The reference has no timer primitive at all — its
    * analog is the per-batch re-scan of Redis state; event-time
    * timers move that re-judgement to exactly the moment the answer
    * becomes final (the watermark proves no qualifying order can
    * still arrive), which is the streaming form of a RANGE window
    * (`COUNT(*) OVER (PARTITION BY cust ORDER BY date RANGE UNBOUNDED
    * PRECEDING TO +30 DAYS FOLLOWING)` — the oracle keeps that form,
    * the differential proves timer-at-watermark ≡ range-window).
    *
    * Two orders of one customer can share a date: the timer registry
    * is per (key, timestamp), so the fire handler emits for EVERY
    * ledger entry whose horizon equals the expired timestamp, not
    * just one. Scale shape: state is the per-customer order ledger —
    * O(orders per key), the same bound the batch range-window's
    * partition carries; entries stay live while any unfired timer can
    * still count them (a deployment would TTL the ledger to its
    * horizon span).
    */
  class OrderTimerProcessor
      extends StatefulProcessor[Long, OrderArrival, OrderHorizon] {
    @transient private var ledger: ListState[OrderArrival] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ledger = getHandle.getListState[OrderArrival](
        "ledger", Encoders.product[OrderArrival], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[OrderArrival],
                                 timerValues: TimerValues): Iterator[OrderHorizon] = {
      val horizons = rows.map { o =>
        ledger.appendValue(o)
        o.ts.getTime + ThirtyDaysMs
      }.toSet
      // one timer per distinct horizon: a same-date order (this batch
      // or an earlier one) would re-register an armed timer
      (horizons -- getHandle.listTimers()).foreach(getHandle.registerTimer)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[OrderHorizon] = {
      val horizon = expired.getExpiryTimeInMs
      val entries = ledger.get().toArray
      val nWithin = entries.count(_.ts.getTime <= horizon).toLong
      entries.iterator
        .filter(_.ts.getTime + ThirtyDaysMs == horizon)
        .map(o => OrderHorizon(o.o_orderkey, key, nWithin))
    }
  }
}
