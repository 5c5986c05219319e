package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.9 extension — the reference has
  * no stream engine; this is the designated extension, not parity work).
  *
  * All transforms are source-agnostic: they accept either a batch DataFrame
  * or a `readStream` DataFrame with the same schema, so every operator is
  * testable in batch and deployable as a stream.
  */
object Streams {

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String, value: Double)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** One open session segment, compacted to the aggregates `Session` needs —
    * the streaming sessionizer's ENTIRE per-key state (never raw events). */
  final case class SegAgg(startMs: Long, endMs: Long, n: Long, sum: Double)

  /** Test-observability hook (meaningful in local mode, where tasks share
    * the JVM): high-water mark of per-key open segment-aggregates held in
    * sessionizer state. Bounded under a never-idle hot key is exactly the
    * state-boundedness claim StreamsSpec pins. */
  private[graft] val sessionStateHighWater = new java.util.concurrent.atomic.AtomicLong(0)
  private def recordHighWater(n: Long): Unit = {
    var cur = sessionStateHighWater.get()
    while (n > cur && !sessionStateHighWater.compareAndSet(cur, n))
      cur = sessionStateHighWater.get()
  }

  /** Tumbling-window per-type aggregate with a watermark (late data beyond
    * `lateness` is dropped; state is bounded — the 100 TB-stream essential). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup on `keyCols` — the continuous-ingest counterpart
    * of `Dedup.exactDedup` for an always-on corpus pipeline. State is bounded
    * by the watermark: a key is remembered only `lateness` past its event
    * time (`dropDuplicatesWithinWatermark`), so 100 TB/day ingest does not
    * accumulate unbounded dedup state. Works on batch frames too (plain
    * dropDuplicates semantics). */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
                  lateness: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Stream-stream inner equi-join with an event-time interval bound:
    * right.ts ∈ [left.ts - before, left.ts + after]. Both sides carry
    * watermarks, so each side's join state is purged once the other side's
    * watermark passes the interval — the bounded-state form of a
    * stream-stream join (unbounded joins never GC their buffers). */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   before: String, after: String,
                   lateness: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range = r(rightTs).between(
      l(leftTs) - expr(s"INTERVAL $before"),
      l(leftTs) + expr(s"INTERVAL $after"))
    // inner equi-join: keep one copy of the key columns (the left's)
    keys.foldLeft(l.join(r, keyCond && range, "inner"))((df, k) => df.drop(r(k)))
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when no event arrives within `gapMillis`. Works on a stream (event-time
    * timeout) and, for testing, on a batch Dataset (single pass per group).
    */
  def sessionize(events: Dataset[Event], gapMillis: Long): Dataset[Session] = {
    implicit val se: Encoder[Session] = Encoders.product[Session]
    implicit val le: Encoder[Long] = Encoders.scalaLong
    implicit val ee: Encoder[Event] = Encoders.product[Event]
    implicit val ae: Encoder[List[SegAgg]] = Encoders.kryo[List[SegAgg]]

    def toSession(userId: Long, s: SegAgg): Session =
      Session(userId, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.endMs), s.n, s.sum)


    /** Merge a start-sorted aggregate list: consecutive segments within
      * gap-reach coalesce (max() because an existing aggregate's span can
      * contain a newly arrived singleton entirely). */
    def coalesce(sorted: List[SegAgg]): List[SegAgg] =
      sorted.foldLeft(List.empty[SegAgg]) {
        case (Nil, s) => List(s)
        case (cur :: done, s) =>
          if (s.startMs - cur.endMs > gapMillis) s :: cur :: done
          else SegAgg(cur.startMs, math.max(cur.endMs, s.endMs),
            cur.n + s.n, cur.sum + s.sum) :: done
      }.reverse

    if (events.isStreaming) {
      // EventTimeTimeout requires a watermark to drive timeout firing.
      //
      // State is per-SEGMENT aggregates, never raw events. This is lossless:
      // gap-segmentation over a set of timestamps can only MERGE segments as
      // points are added — a new event lands inside a segment's gap-reach,
      // bridges two neighbors, or opens its own segment; no arrival can ever
      // SPLIT an existing segment (gaps between sorted points only shrink).
      // Everything a closed session emits — the Session fields start, end,
      // n_events, sum_value — composes associatively under that merge, so
      // compacting each event to a singleton aggregate on arrival loses
      // nothing. A never-idle hot key
      // (a bot firing an event each second for weeks) therefore holds ONE
      // aggregate regardless of event count — the raw-event buffer this
      // replaces grew linearly until the first gap, the classic
      // streaming-state scale-killer.
      events.withWatermark("ts", "10 seconds").groupByKey(_.user_id)
        .flatMapGroupsWithState[List[SegAgg], Session](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (userId: Long, it: Iterator[Event], state: GroupState[List[SegAgg]]) =>
            if (state.hasTimedOut) {
              // state is already coalesced into maximal segments, and the
              // watermark passed every (end + gap): each closes as-is
              val out = state.getOption.getOrElse(Nil).map(toSession(userId, _)).iterator
              state.remove()
              out
            } else {
              // n/sum tiebreak: equal-span segments merge in a deterministic
              // order within a batch (across batches the grouping of events
              // into micro-batches already varies; sum_value rides the
              // rounded-float comparator discipline like every other sum)
              val incoming = it.map(e => SegAgg(e.ts.getTime, e.ts.getTime, 1L, e.value))
              val segs = coalesce((state.getOption.getOrElse(Nil) ++ incoming)
                .sortBy(s => (s.startMs, s.endMs, s.n, s.sum)))
              // emit every segment already safely closed: no event still
              // admissible under the watermark (ts >= wm) can reach a
              // segment whose end + gap precedes the watermark
              val wm = state.getCurrentWatermarkMs()
              val (closed, open) = segs.partition(_.endMs + gapMillis < wm)
              if (open.isEmpty) state.remove()
              else {
                recordHighWater(open.size.toLong)
                state.update(open)
                state.setTimeoutTimestamp(open.map(_.endMs).max + gapMillis)
              }
              closed.map(toSession(userId, _)).iterator
            }
        }
    } else {
      // Batch path: same session semantics, STREAMED. flatMapSortedGroups
      // sorts each group through Spark's spillable external sorter and
      // hands an in-order iterator — the prior `it.toSeq.sortBy` form
      // materialized a user's WHOLE event history on the heap, the exact
      // unbounded-group-state class the streaming branch's SegAgg design
      // exists to avoid (a hot key at corpus scale OOM'd the oracle path).
      // The single-pass fold below holds only the OPEN session's aggregate
      // and emits lazily, so per-group heap is O(1) + one pending Session.
      // Values still sum in ascending-ts order — bit-identical to the old
      // buffered fold for every group. (event_type, value) break timestamp
      // ties so equal-ts events accumulate in a DETERMINISTIC order across
      // task retries and shuffle layouts: events identical on the full key
      // are interchangeable in summation, so sum_value's bits no longer
      // depend on partition arrival order (the one unrounded-float
      // order-dependence the r15 sweep left to the comparator's rounding).
      events.groupByKey(_.user_id)
        .flatMapSortedGroups(col("ts"), col("event_type"), col("value")) {
        (userId: Long, it: Iterator[Event]) =>
          new scala.collection.AbstractIterator[Session] {
            private var cur: SegAgg = null
            private var ready: Session = null
            private def advance(): Unit = {
              while (ready == null && it.hasNext) {
                val e = it.next(); val t = e.ts.getTime
                if (cur == null) cur = SegAgg(t, t, 1L, e.value)
                else if (t - cur.endMs > gapMillis) {
                  ready = toSession(userId, cur)
                  cur = SegAgg(t, t, 1L, e.value)
                } else cur = SegAgg(cur.startMs, math.max(cur.endMs, t),
                  cur.n + 1L, cur.sum + e.value)
              }
              if (ready == null && cur != null && !it.hasNext) {
                ready = toSession(userId, cur)
                cur = null
              }
            }
            def hasNext: Boolean = { advance(); ready != null }
            def next(): Session = {
              advance()
              if (ready == null) throw new NoSuchElementException("next on empty session iterator")
              val r = ready; ready = null; r
            }
          }
      }
    }
  }
}
