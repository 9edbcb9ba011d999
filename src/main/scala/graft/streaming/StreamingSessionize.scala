package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming._

/** Streaming face of q107's sessionization: label every event with its
  * per-user session ordinal (a new session opens when the gap to the
  * previous event exceeds `gapMs`) on an unbounded stream.
  *
  * Mechanics: events buffer per user in ListState; every input batch
  * registers an event-time timer at that batch's max timestamp + gap.
  * When the watermark passes a timer, the buffer is sorted by
  * (ts, event_id) and split at gaps; every session whose last event +
  * gap is at or below the watermark is CLOSED — no event that could
  * still arrive (ts ≥ watermark) can extend it — and its events emit
  * with the user's running session ordinal. The still-open tail stays
  * buffered. Late events (ts < watermark at ingress) drop, the same
  * zero-lateness contract as the process-window family.
  *
  * State per user is the open tail's events, one Long (the `closed`
  * session ordinal, kept for every user ever seen so the next session
  * numbers on) and the pending timers. Closed sessions' events leave the
  * buffer, so the events held are bounded by the users' in-flight
  * bursts; the ordinals grow with the number of distinct users, one
  * Long each, not with the events.
  * Ordinals are assigned in watermark order, which IS event-time order
  * across sessions, so the labels match the batch computation exactly
  * (spec: fixture events replayed in batches against the q107 shape).
  */
object StreamingSessionize {

  /** rows: (event_id, tsMs). Emits (user_id, event_id, session_idx) when
    * the watermark closes each session.
    */
  def labeled(grouped: KeyValueGroupedDataset[Long, (Long, Long)], gapMs: Long)(
      implicit pairEnc: Encoder[(Long, Long)], longEnc: Encoder[Long],
      outEnc: Encoder[(Long, Long, Long)]): Dataset[(Long, Long, Long)] = {

    val processor = new StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
      @transient private var buf: ListState[(Long, Long)] = _
      @transient private var closed: ValueState[Long] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        buf = getHandle.getListState[(Long, Long)]("events", pairEnc, TTLConfig.NONE)
        closed = getHandle.getValueState[Long]("closed", longEnc, TTLConfig.NONE)
      }

      override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                   timers: TimerValues): Iterator[(Long, Long, Long)] = {
        val wm = timers.getCurrentWatermarkInMs
        var maxTs = Long.MinValue
        rows.foreach { case (id, ts) =>
          if (ts >= wm) { // zero-lateness ingress drop
            buf.appendValue((id, ts))
            if (ts > maxTs) maxTs = ts
          }
        }
        // +1: the session closes only when wm STRICTLY exceeds last+gap
        // (an event at exactly last+gap still merges — batch splits on
        // diff > gap, not >=), so the timer must fire past that point
        if (maxTs != Long.MinValue) getHandle.registerTimer(maxTs + gapMs + 1)
        Iterator.empty
      }

      override def handleExpiredTimer(key: Long, timers: TimerValues,
                                      info: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
        val wm = timers.getCurrentWatermarkInMs
        val all = buf.get().toIndexedSeq.sortBy(e => (e._2, e._1))
        if (all.isEmpty) return Iterator.empty
        // split the sorted buffer into gap-delimited sessions
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(all.head))
        all.tail.foreach { e =>
          if (e._2 - sessions.last.last._2 > gapMs)
            sessions += scala.collection.mutable.ArrayBuffer(e)
          else sessions.last += e
        }
        var idx = if (closed.exists()) closed.get() else 0L
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val keep = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var firstOpenLast = Long.MinValue
        sessions.foreach { sess =>
          // strict <: a future event (ts ≥ wm) can still land EXACTLY at
          // last+gap, which batch semantics merge into this session
          if (keep.isEmpty && sess.last._2 + gapMs < wm) {
            idx += 1
            sess.foreach { case (id, _) => out += ((key, id, idx)) }
          } else {
            if (keep.isEmpty) firstOpenLast = sess.last._2
            keep ++= sess // open tail (and anything after it) stays
          }
        }
        closed.update(idx)
        if (keep.isEmpty) buf.clear()
        else {
          buf.put(keep.toArray)
          // the open head's original timer may have fired at exactly the
          // boundary the strict close refused; re-arm past its closure
          // point so the session can't strand if the user goes quiet
          getHandle.registerTimer(math.max(firstOpenLast + gapMs + 1, wm + 1))
        }
        out.iterator
      }
    }

    grouped.transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }
}
