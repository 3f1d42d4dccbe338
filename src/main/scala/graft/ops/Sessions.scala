package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization (gap-based event-time sessions per user).
  *
  * Batch: the window-function formulation — lag-gap flag, running sum as
  * session id, then a keyed aggregate. One shuffle (hash by user for the
  * window), oracle-expressible in ANSI SQL.
  *
  * Streaming: two forms. `streamingSessionWindow` uses the built-in
  * session_window (Spark plans merging + state for us). `sessionizeStream`
  * is the flatMapGroupsWithState form for when session state needs custom
  * fields/logic — event-time timeout keyed per user, state is O(1) per key.
  */
object Sessions {

  val GapUs: Long = 1800000000L // 30 min

  /** Batch sessionize over (user_id, event_id, ts) — event-TIME order
    * (event_id only as deterministic tiebreak), so out-of-id-order arrivals
    * sessionize identically to the streaming forms.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
  }

  /** TRUNCATED DISCOUNTED RETURNS over trajectories — the RL/agentic-data
    * prep step that turns per-step rewards into per-step training targets:
    *
    *   G_t = Σ_{i=0..H-1} γ^i · r_{t+i}     (γ = 1/2, horizon H)
    *
    * γ is FIXED at the dyadic 1/2 so every term r·2^-i is exact in a
    * double (reward integral) and every partial sum is exact while
    * reward-bits + H ≤ 52 — the sum is order-free and bitwise
    * cross-engine, no libm pow. `require` enforces the bit budget on H;
    * the caller bounds rewards (document: |r| < 2^12 with the default
    * H = 16 leaves 24 bits of headroom).
    *
    * Scale shape: ONE trajectory-keyed shuffle; the window frame is
    * bounded at H rows (state O(H) per row, arrays H-sized, narrow after
    * the sort) — trajectories of any length stream through. Output keeps
    * (traj_id, ord, reward, n_future, ret) so shorter-than-H tails are
    * visible.
    */
  /** BURSTINESS PROFILE (Goh & Barabási 2008): per entity, the
    * inter-event-gap statistics and the burstiness parameter
    * B = (σ − μ)/(σ + μ) ∈ [−1, 1] — B ≈ −1 is a metronome (bot-like
    * regularity), B ≈ 0 Poisson, B → 1 extreme bursts. The behavioral
    * screen for scripted traffic and for event streams whose cadence a
    * session model must respect.
    *
    * Exactness: gaps are exact MICROSECOND longs from the event-time
    * order (id tiebreak ⇒ total order); Σg is a long and Σg² accumulates
    * as DECIMAL(38,0) (a day-long gap squared is ~7.5e18 — one gap can
    * overflow a long at real scale), so the population-variance dag
    * (Σg²/n − μ²) runs on exact sums and replays bit-identically. The
    * OUTPUT face carries sum_gap2 as DOUBLE (exact-integer decimals
    * convert round-to-nearest identically in both engines; a raw
    * decimal-38 column round-trips differently per reader).
    *
    * Scale shape: one entity-key hash shuffle serves the lag window AND
    * the aggregate (exchange reused); entities with < 2 events drop
    * (no gaps — documented).
    */
  def burstiness(events: DataFrame, entity: Column, order: Column,
                 ts: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = events.select(entity.as("entity"), order.as("ord"),
      unix_micros(ts).as("us"))
    val w = Window.partitionBy(col("entity")).orderBy(col("us"), col("ord"))
    base
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("entity"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap"),
        sum((col("gap").cast(DecimalType(19, 0))
          * col("gap").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
          .as("sum_gap2"),
        min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
      .withColumn("mean_gap_us",
        col("sum_gap").cast("double") / col("n_gaps").cast("double"))
      .withColumn("var_gap",
        col("sum_gap2").cast("double") / col("n_gaps").cast("double")
          - col("mean_gap_us") * col("mean_gap_us"))
      // output face carries Σg² as DOUBLE: raw DECIMAL(38,0) round-trips
      // differently through parquet/pyarrow vs DuckDB readers; the exact
      // decimal stays internal to the variance dag above
      .withColumn("sum_gap2", col("sum_gap2").cast("double"))
      .withColumn("std_gap", sqrt(greatest(col("var_gap"), lit(0.0))))
      .withColumn("burstiness",
        when(col("std_gap") + col("mean_gap_us") > 0.0,
          (col("std_gap") - col("mean_gap_us"))
            / (col("std_gap") + col("mean_gap_us"))).otherwise(lit(0.0)))
  }

  def discountedReturns(events: DataFrame, traj: Column, ord: Column,
                        reward: Column, horizon: Int = 16): DataFrame = {
    require(horizon >= 1 && horizon <= 40,
      s"horizon must be in 1..40 (exactness bit budget), got $horizon")
    val weights = (0 until horizon).map(i => 1.0 / (1L << i))
    // r12 (guide expressions/codegen + §5): the old form collected a
    // horizon-sized (ord, reward) struct array PER ROW (window
    // collect_list), array_sorted it, and folded it through interpreted
    // transform/aggregate lambdas — the catalog's last big per-row
    // allocator + CodegenFallback site (q193 ran as a single 1.7 s task).
    // Same values from `horizon` lead() offset frames over one window
    // pass: term_i = reward_{t+i} · 2^{-i} in ascending-i fold order, the
    // exact FP sequence of the old fold (array_sort over the ROWS frame
    // ordered the structs by (ord, reward), which the window order below
    // replays; leads past the trajectory's end (offset ≥ n_future) add
    // +0.0, which cannot flip any reachable partial sum — terms are never
    // −0.0, and x + (−x) is +0.0 in IEEE — while a null reward inside the
    // frame makes `ret` null, as it did in the old fold. OpsSpec pins the
    // dyadic targets and a corpus replay of the old dag, null rewards
    // included).
    val wOrd = Window.partitionBy(col("traj_id"))
      .orderBy(col("ord"), col("reward"))
    val wFrame = wOrd.rowsBetween(Window.currentRow, horizon - 1)
    val terms = (0 until horizon).map { i =>
      // lead's default stands in only for rows past the partition end
      val r = if (i == 0) col("reward")
        else lead(col("reward"), i, 0L).over(wOrd)
      r.cast("double") * lit(weights(i))
    }
    events
      .select(traj.cast("long").as("traj_id"), ord.cast("long").as("ord"),
        reward.cast("long").as("reward"))
      .select(col("traj_id"), col("ord"), col("reward"),
        count(lit(1)).over(wFrame).as("n_future"),
        terms.foldLeft(lit(0.0))(_ + _).as("ret"))
  }

  /** Built-in session_window aggregation (works batch + streaming). */
  def streamingSessionWindow(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"))

  // ---- flatMapGroupsWithState form (custom state) ----

  case class Ev(user_id: Long, us: Long)
  case class SessState(startUs: Long, endUs: Long, n: Long)
  case class SessOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Custom stateful sessionizer: emits a session when a new event arrives
    * past the gap, or when the event-time timeout fires (watermark passed
    * endUs + gap).
    */
  def sessionizeStream(events: DataFrame)(implicit spark: SparkSession): Dataset[SessOut] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessOut(user, s.startUs, s.endUs, s.n))
          } else {
            var out = List.empty[SessOut]
            var cur = state.getOption
            for ((_, us, _) <- rows.toSeq.sortBy(_._2)) {
              cur match {
                case Some(s) if us - s.endUs <= GapUs =>
                  cur = Some(s.copy(endUs = math.max(s.endUs, us), n = s.n + 1))
                case Some(s) =>
                  out ::= SessOut(user, s.startUs, s.endUs, s.n)
                  cur = Some(SessState(us, us, 1))
                case None =>
                  cur = Some(SessState(us, us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fires once the watermark (already delayed by the
              // withWatermark clause) passes session end + gap
              state.setTimeoutTimestamp((s.endUs + GapUs) / 1000)
            }
            out.reverseIterator
          }
      }
  }

  /** Ordered conversion FUNNEL (view → click → purchase): per user,
    * t1 = first view, t2 = first click AFTER t1, t3 = first purchase AFTER
    * t2; `stage` counts completed steps. Expressed as three chained
    * conditional window-minima over the SAME user_id partitioning — Spark
    * plans ONE hash shuffle and evaluates all three passes (plus the final
    * distinct) on the already-partitioned data, so at 100 TB the cost is a
    * single repartition of the events regardless of funnel depth.
    */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1_us",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2_us",
        min(when(col("event_type") === "click" && col("us") > col("t1_us"),
          col("us"))).over(w))
      .withColumn("t3_us",
        min(when(col("event_type") === "purchase" && col("us") > col("t2_us"),
          col("us"))).over(w))
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"))
      .distinct()
      .withColumn("stage",
        (col("t1_us").isNotNull.cast("int") + col("t2_us").isNotNull.cast("int")
          + col("t3_us").isNotNull.cast("int")))
  }
}
