package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.10).
  *
  * The reference is pure batch; its only incremental behavior is
  * skip-if-exists (S6). These operators are the streaming growth path the
  * builder prompt asks for: the same event-table semantics as the batch
  * queries (ev1/ev2), expressed so ONE implementation serves both modes —
  * `windowedAgg` is mode-agnostic DataFrame code (watermark is a no-op in
  * batch), and `sessionize` is a `flatMapGroupsWithState` that Spark runs
  * per-group-with-state in streaming and per-group-once in batch.
  *
  * Scale: state per key is O(1) (one rolling session counter + last-seen
  * timestamp); watermarks bound both the window-agg state store and late
  * data. Shuffle is one hash partitioning on the group key per mode.
  */
object EventStreams {

  /** ts_us = event time in epoch microseconds (Catalyst's native timestamp
    * precision; a java.sql.Timestamp field would floor to milliseconds and
    * diverge from the batch window query at sub-ms gaps).
    */
  final case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long)

  final case class SessionState(lastSessionId: Long, lastEventUs: Long)

  final case class SessionedEvent(user_id: Long, event_id: Long, session_id: Long)

  /** EV1 (streaming form): watermarked tumbling-window counts/sums per
    * event type. In batch mode `withWatermark` is a no-op and this computes
    * exactly the ev1 aggregate shape.
    */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur).as("win"), col("event_type"))
      // decimal-exact sum: float summation is partition-order-dependent,
      // and streaming merges partials in arrival order (graft.functions.exactSum)
      .agg(count(lit(1)).as("n"), graft.functions.exactSum(col("value")).as("total_value"))

  /** EV7 (native form): Spark's built-in `session_window` aggregation —
    * the engine's own gap-merge, completing the sessionization triptych
    * next to the hand-built window-cumsum (ev2) and the
    * flatMapGroupsWithState form (ev3). One row per (user, session):
    * window start = first event, end = last event + gap (the engine
    * extends the window end per event and merges overlaps). In batch
    * mode the watermark is a no-op and the result is the closed-form
    * gap-merge; in streaming, closed sessions emit once the watermark
    * passes their end.
    *
    * Boundary semantics match ev2's `gap > threshold` split exactly: an
    * event at EXACTLY gap distance from the previous MERGES into the
    * session — session_window extends the window end inclusively
    * (measured; pinned by StreamingSpec's boundary case, and the reason
    * the oracle reuses ev2's `>` split, not `>=`).
    *
    * Skew bound: the engine merges each key's session windows in one
    * task, so a hot key serializes (measured 25.9 s vs the salted
    * cumsum's 5.9 s at the 100x hot-key probe — SCALE.md). Prefer this
    * form for its engine-maintained streaming state; under measured key
    * skew route the batch path to [[graft.operators.EventOps
    * .sessionizeSalted]] (ev2b) — same oracle family, pick by key
    * distribution.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("win"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.exactSum(col("value")).as("total_value"))

  /** EV2 (stateful form): gap-based sessionization via
    * flatMapGroupsWithState. Session ids are 1-based per user and increment
    * whenever the gap to the previous event exceeds `gapMinutes` — the
    * same semantics as the batch window-cumsum query (ev2_sessionize), so
    * the batch run of this operator is checkable against the same SQL
    * oracle.
    *
    * Within one invocation events are sorted by (ts, event_id); across
    * micro-batches ordering is the watermark's responsibility (late events
    * beyond the watermark are the stream's correctness boundary, as in any
    * event-time sessionizer).
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int)
      : Dataset[SessionedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L

    def assign(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionedEvent] = {
      val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
      val out = ordered.map { e =>
        val isNew = st.lastEventUs == Long.MinValue || e.ts_us - st.lastEventUs > gapUs
        val sid = if (isNew) st.lastSessionId + 1 else st.lastSessionId
        st = SessionState(sid, e.ts_us)
        SessionedEvent(userId, e.event_id, sid)
      }
      if (out.nonEmpty) state.update(st)
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(assign)
  }

  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)

  final case class FunnelState(times: Array[Long])

  final case class FunnelRow(user_id: Long, t1: Option[Long],
    t2: Option[Long], t3: Option[Long], steps_completed: Int)

  /** EV9's streaming twin: a live funnel over the event stream —
    * O(steps) state per user (the earliest qualifying timestamp of each
    * step), updated per micro-batch by replaying that batch's events in
    * event-time order through exactly the batch rule (strict step
    * ordering, inclusive t1+horizon; see
    * [[graft.operators.EventOps.funnel]]). A user's current funnel row
    * re-emits whenever a batch advances it, so a dashboard reads
    * conversion live; one AvailableNow batch over a table replay
    * produces [[graft.operators.EventOps.funnel]]'s answer VERBATIM
    * (the registered query holds it to ev9's oracle — the ev2/ev3
    * same-SQL discipline).
    *
    * Exactness contract: a sequential in-order scan ("first qualifying
    * event per step wins") equals the batch cascaded-min — within a
    * batch events are sorted, so single-batch replays are always exact;
    * across batches exactness needs per-user event-time order (the
    * watermark assumption). A late-arriving EARLIER step-head cannot
    * retroactively re-derive downstream steps from O(k) state — that is
    * the price of not retaining the event log, the standard streaming-
    * funnel tradeoff (StreamingSpec pins the in-order semantics).
    * Null-timestamp events are dropped at the boundary (ev9's
    * malformed-event rule). Hardwired to 3 steps in the emitted row
    * shape (the ev9 query surface); the state machine itself is
    * step-count-generic.
    */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
      horizonUs: Option[Long]): Dataset[FunnelRow] = {
    require(steps.size == 3 && steps.distinct.size == 3,
      s"funnelStream emits the 3-step ev9 row shape: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap

    def advance(userId: Long, it: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): Iterator[FunnelRow] = {
      val k = steps.size
      val t = state.getOption.map(_.times.clone())
        .getOrElse(Array.fill(k)(Long.MinValue))
      val before = t.toSeq
      it.toVector.filter(e => stepIdx.contains(e.event_type))
        .sortBy(_.ts_us)
        .foreach { e =>
          val j = stepIdx(e.event_type)
          val prevOk = j == 0 || t(j - 1) != Long.MinValue
          val strictlyAfter = j == 0 || e.ts_us > t(j - 1)
          val inHorizon = j == 0 ||
            horizonUs.forall(h => e.ts_us <= t(0) + h)
          if (t(j) == Long.MinValue && prevOk && strictlyAfter && inHorizon)
            t(j) = e.ts_us
        }
      if (t.toSeq == before || t(0) == Long.MinValue) Iterator.empty
      else {
        state.update(FunnelState(t))
        def opt(i: Int) = if (t(i) == Long.MinValue) None else Some(t(i))
        Iterator.single(FunnelRow(userId, opt(0), opt(1), opt(2),
          t.count(_ != Long.MinValue)))
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(advance)
  }

  /** EV6: stream-STREAM attribution join — every purchase-side row pairs
    * with the click-side rows of the same user that happened within
    * `windowMinutes` BEFORE it (inclusive on both ends). The one streaming
    * shape the window/session operators above don't exercise: two live
    * inputs joined on key + event-time range, which Structured Streaming
    * runs as a symmetric hash join with per-side state stores.
    *
    * Scale shape: both sides carry a watermark AND the join predicate
    * bounds `click.ts` to a closed interval around `purchase.ts`, so Spark
    * derives a state watermark for each side and EVICTS rows that can no
    * longer match (without the range bound, both states grow forever).
    * State per side ≈ rate × (watermark delay + window) per key — constant
    * in stream length. One hash partitioning on `user_id` per side; in
    * batch mode the watermarks are no-ops and this is a plain equi+range
    * join, so the operator carries a full SQL oracle.
    *
    * Sides arrive pre-projected with DISTINCT column names (both streams
    * typically read the same source, so relying on `df("col")` lineage
    * disambiguation is fragile — the caller renames instead; the
    * registered query uses purchase_id/p_ts vs click_id/c_user/c_ts).
    * Inner join: unattributed purchases drop; a purchase with k in-window
    * clicks yields k rows (the aj2 fan-out semantics, but live).
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      userLeft: String = "user_id", userRight: String = "c_user",
      tsLeft: String = "p_ts", tsRight: String = "c_ts",
      windowMinutes: Int = 30, watermarkDelay: String = "1 hour",
      maxCandidatesPerKey: Long = 10000000L): DataFrame = {
    val p = guardKeyProducts(purchases, clicks, userLeft, userRight,
      maxCandidatesPerKey)
      .withWatermark(tsLeft, watermarkDelay)
    val c = clicks.withWatermark(tsRight, watermarkDelay)
    p.join(c,
      col(userLeft) === col(userRight) &&
        col(tsRight) >= col(tsLeft) - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col(tsRight) <= col(tsLeft),
      "inner")
      .drop(userRight)
  }

  /** EV8: the LEFT OUTER form of [[attributionJoin]] — unattributed
    * purchases survive with null click columns, the shape an attribution
    * report actually needs (an inner join silently drops exactly the rows
    * the analyst is hunting). Streaming semantics: matched rows emit as
    * they join; an UNMATCHED purchase emits its null-extended row only
    * once the watermark passes the point where a matching click could
    * still arrive — so outer results trail the watermark by design, and a
    * final batch (or watermark advance) is what flushes the tail. Batch
    * mode is a plain left outer equi+range join. Same per-side state
    * eviction as the inner form (the range bound derives both state
    * watermarks). For batch replays over hot keys use
    * [[attributionJoinBinned]] — the plain key+range join is quadratic
    * per key (measured 88 s at the 10x hot-key probe vs 1.2 s binned).
    */
  def attributionJoinOuter(purchases: DataFrame, clicks: DataFrame,
      userLeft: String = "user_id", userRight: String = "c_user",
      tsLeft: String = "p_ts", tsRight: String = "c_ts",
      windowMinutes: Int = 30, watermarkDelay: String = "1 hour",
      maxCandidatesPerKey: Long = 10000000L): DataFrame = {
    val p = guardKeyProducts(purchases, clicks, userLeft, userRight,
      maxCandidatesPerKey)
      .withWatermark(tsLeft, watermarkDelay)
    val c = clicks.withWatermark(tsRight, watermarkDelay)
    p.join(c,
      col(userLeft) === col(userRight) &&
        col(tsRight) >= col(tsLeft) - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col(tsRight) <= col(tsLeft),
      "left_outer")
      .drop(userRight)
  }

  /** Candidate-count TRIPWIRE for the plain key+range attribution joins
    * (batch mode only — streaming state eviction already bounds per-key
    * candidates to watermark+window scale): the plain form enumerates
    * |purchases_k| x |clicks_k| candidate pairs per key before the range
    * filter, quadratic under a hot key (measured 0.77 s -> 88 s at the
    * 10x hot-key probe). Rather than letting a skewed replay run for
    * hours, fail loudly naming the hot key and pointing to the binned
    * form (the aj2 cell-cap discipline). The guard is a row-bearing
    * FILTER (not a droppable projection, which column pruning would
    * erase), fed by two partial-aggregated per-key counts — cheap next
    * to the join's own shuffle, zero output change under the cap.
    */
  private def guardKeyProducts(p: DataFrame, c: DataFrame,
      userLeft: String, userRight: String, cap: Long): DataFrame = {
    if (p.isStreaming || c.isStreaming) p
    else {
      val prod = p.groupBy(col(userLeft)).agg(count(lit(1)).as("__np"))
        .join(c.groupBy(col(userRight).as(userLeft))
          .agg(count(lit(1)).as("__nc")), Seq(userLeft))
        .select(col(userLeft), (col("__np") * col("__nc")).as("__prod"))
      p.join(prod, Seq(userLeft), "left")
        .filter(when(col("__prod").isNull || col("__prod") <= cap, lit(true))
          .otherwise(raise_error(format_string(
            s"attribution join: key %s carries %s purchase x click" +
              s" candidate pairs (cap $cap) — the plain key+range join is" +
              " quadratic per key; use attributionJoinBinned for batch" +
              " replays over skewed keys, or raise maxCandidatesPerKey",
            col(userLeft), col("__prod"))).cast("boolean")))
        .drop("__prod")
    }
  }

  /** EV6b/EV8b: the grid-binned BATCH form of the attribution join — the
    * hot-key fix the 10x probe demanded (one user holding ~20% of events
    * made the plain key+range join enumerate p×c candidate pairs per
    * user: 0.77 s → 88 s at 10x). Same trick as AsofJoin.intervalJoin:
    * bucket time on the window grid; a purchase lives in ONE bucket, a
    * click explodes to the two buckets its window can reach (its own and
    * the next), and the equi-join on (user, bucket) bounds the candidate
    * space to per-WINDOW rates instead of per-user history. Each (p, c)
    * pair meets exactly once (in the purchase's bucket), so no dedup
    * pass; output is identical to [[attributionJoin]] / the outer form
    * row-for-row, and the registered query is held to the plain form's
    * oracle VERBATIM (the aj1b discipline).
    *
    * Batch-only: streaming state eviction already bounds the symmetric
    * hash join's candidates to watermark+window scale.
    */
  def attributionJoinBinned(purchases: DataFrame, clicks: DataFrame,
      userLeft: String = "user_id", userRight: String = "c_user",
      tsLeft: String = "p_ts", tsRight: String = "c_ts",
      windowMinutes: Int = 30, outer: Boolean = false): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    val p = purchases.withColumn("__bkt",
      expr(s"unix_micros($tsLeft) div $winUs"))
    val c = clicks.withColumn("__bktc",
      explode(array(expr(s"unix_micros($tsRight) div $winUs"),
        expr(s"unix_micros($tsRight) div $winUs") + 1)))
    p.join(c,
      p("__bkt") === c("__bktc") &&
        col(userLeft) === col(userRight) &&
        col(tsRight) >= col(tsLeft) - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col(tsRight) <= col(tsLeft),
      if (outer) "left_outer" else "inner")
      .drop(userRight, "__bkt", "__bktc")
  }

  /** Streaming exact-dedup: keep the first occurrence of each content hash,
    * with state bounded by the watermark (duplicates arriving later than
    * the delay are the accepted trade-off at unbounded scale).
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicates("text_md5")
}
