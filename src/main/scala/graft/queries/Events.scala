package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.core.Tables

/** Event-stream batch operators — the batch forms of the streaming suite
  * (SURVEY.md §2.D) plus an as-of join, the canonical "operator Spark
  * lacks natively" realized by composition (preference (a) from the
  * design notes: compose existing ops when semantics allow).
  *
  * Scale notes: both operators are one shuffle on user_id followed by
  * in-partition ordered passes (window functions with no frame growth) —
  * the 100 TB shape for time-ordered per-entity analytics. The as-of
  * join's union-merge trick costs one sort instead of a per-row range
  * probe, and never materializes the O(clicks × purchases) pair space.
  */
object Events {

  private val byUserTime = Window.partitionBy(col("user_id")).orderBy(col("ts"))

  /** The file stream of one table under `dir`, by name (`documents`,
    * `embeddings`, `events`): the ONE place a gate's stream source is
    * built, so a fix to a source gotcha cannot miss a copy. The file
    * source wants a DIRECTORY, so a glob filter narrows it to the table.
    * `events` needs the nanosAsLong conf just to READ its nanos-typed
    * schema, and gets `ts` rebuilt as a µs timestamp (pruned away by
    * gates that don't select it).
    */
  private[queries] def streamOf(s: SparkSession, dir: String, table: String): DataFrame = {
    val events = table == "events"
    if (events) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/$table.parquet").schema
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
    if (events) Tables.normalizeTs(raw) else raw
  }

  /** Stateful streaming ops instantiate one state store per shuffle
    * partition AT QUERY START; a 32-partition session default means 32
    * stores (checkpoint dirs, commit files, provider instances) for a
    * stream these gates feed ~10k events — pure overhead. Production
    * streaming jobs size shuffle partitions per query; these gates run
    * theirs at 8 and restore the session setting after (Bench runs every
    * arm that starts a stream after its pure arms).
    */
  private def withStreamPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    // min, not a flat 8: a session already below 8 (the local[4] spec
    // session) must not have its state-store count RAISED by the helper
    // that exists to lower it
    s.conf.set(key, math.min(prev.toInt, 8).toString)
    try body finally s.conf.set(key, prev)
  }

  /** Build a gate's streaming frame (its static probe tables included)
    * under the gate's partition count, run it to completion
    * (AvailableNow) in `mode`, and return the result DETACHED
    * (localCheckpoint). The sink is foreachBatch, NOT a memory sink: a
    * memory sink collects every output row into the DRIVER (then the
    * gate re-scans it out of driver memory) — exactly the driver-bound
    * shape these gates exist to avoid at 100 TB. foreachBatch
    * checkpoints each batch's rows where they already live
    * (executor-cached blocks), so the result never rides through the
    * driver; memory-sink MODE semantics are reproduced at the batch
    * grain — complete replaces (keep the LAST batch's full result),
    * update/append accumulate (union every batch's rows). Every stream
    * gate runs through here.
    */
  private[queries] def runStream(s: SparkSession, mode: OutputMode)(
      build: => DataFrame): DataFrame = withStreamPartitions(s) {
    val streamed = build
    val complete = mode == OutputMode.Complete
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val q = streamed.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: Dataset[Row], _: Long) =>
        // AvailableNow runs foreachBatch on the driver's stream thread
        // sequentially — the buffer needs no synchronization. Complete
        // mode re-emits the FULL result each batch, so earlier batches'
        // blocks release before theirs are replaced.
        val b = df.localCheckpoint(true)
        if (complete) { batches.foreach(_.unpersist(blocking = false)); batches.clear() }
        batches += b
        ()
      }
      .start()
    q.awaitTermination()
    // each BATCH frame is the checkpoint, so each is tracked — tracking
    // only the union would unpersist a non-persisted plan node and leak
    // the batches' blocks past the consumer's Pinned.drain. A zero-batch
    // run (empty source) still returns the right SCHEMA via an empty
    // frame on the streamed plan's schema.
    batches.foreach(Pinned.track)
    batches.reduceOption(_ unionAll _)
      .getOrElse(s.createDataFrame(new java.util.ArrayList[Row](), streamed.schema))
  }

  val all: Seq[Q] = Seq(

    // B21: gap-based sessionization (30 min), batch form. Session id =
    // running count of gap-breaks per user; one shuffle, two window passes.
    Q("q21_sessionize",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin) { (s, dir) =>
      // gap test in WHOLE SECONDS (truncated), matching DuckDB
      // date_diff('second', ...) which counts second-boundary crossings:
      // an exact-microsecond comparison would split a 1800.7 s gap that
      // the oracle keeps in-session
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("tsec", expr("unix_micros(ts) div 1000000"))
      val g = e.withColumn("brk",
        when(lag(col("tsec"), 1).over(byUserTime).isNull ||
          (col("tsec") - lag(col("tsec"), 1).over(byUserTime)) > 1800L,
          lit(1)).otherwise(lit(0)))
      val withSid = g.withColumn("sid",
        sum(col("brk")).over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withSid.groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
        .orderBy(col("user_id"), col("sid"))
    },

    // B26: semi-structured access — JSON property extraction from the
    // events `props` column (get_json_object is codegen'd; the cast and
    // aggregation behave like any typed column afterwards).
    Q("q26_json_props",
      """SELECT event_type,
        |  CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_max,
        |  count(*) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), max(col("k")).as("k_max"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // B22: as-of join — each click matched to the user's latest STRICTLY
    // earlier purchase. Spark composition: tag-union both sides, sort by
    // (ts, tag) within user (clicks before purchases at equal ts, so the
    // strict '<' falls out of the frame), carry the last purchase forward
    // with last_value(ignoreNulls). DuckDB oracle uses its native ASOF.
    Q("q22_asof_join",
      """SELECT a.event_id, a.user_id, b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND b.ts < a.ts
        |ORDER BY a.event_id""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0)).as("tag"))
      // event_id tie-break: two purchases at an identical ts would
      // otherwise make the carried purchase_id nondeterministic
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val carried = e
        .withColumn("pid", when(col("tag") === 1, col("event_id")))
        .withColumn("pts", when(col("tag") === 1, col("ts")))
        .withColumn("purchase_id", last(col("pid"), ignoreNulls = true).over(w))
        .withColumn("purchase_ts", last(col("pts"), ignoreNulls = true).over(w))
      carried
        .where(col("tag") === 0 && col("purchase_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("purchase_ts"))
        .orderBy(col("event_id"))
    },

    // B33 (r11): FUNNEL — the ordered multi-step conversion analysis
    // every product-analytics engine ships: per user, first 'view', the
    // first 'click' strictly after it, the first 'purchase' strictly
    // after that click, all inside a 24 h window anchored at the view.
    // Output = steps completed (1..3) + integer-ms step latencies (NULL
    // where the funnel stopped). SEQUENCING makes this more than three
    // aggregates: t2 conditions on t1, t3 on t2 — expressed as three
    // conditional min-aggregations chained through joins, not a
    // row_number scan over the whole event stream. 100 TB shape: every
    // groupBy/join keys on user_id, so the three stages co-partition and
    // AQE reuses the exchange; each stage's input shrinks (clicks of
    // view-users, purchases of click-users). All comparisons on
    // timestamps, latencies integer-ms ⇒ hash-gated.
    Q("q33_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2
        |      FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 24 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |                    JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= v.t1 + INTERVAL 24 HOUR
        |      GROUP BY e.user_id)
        |SELECT v.user_id,
        |  CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT AS BIGINT) AS steps,
        |  CAST(CASE WHEN t2 IS NOT NULL
        |       THEN (epoch_us(t2) - epoch_us(t1)) // 1000 END AS BIGINT) AS ms_to_click,
        |  CAST(CASE WHEN t3 IS NOT NULL
        |       THEN (epoch_us(t3) - epoch_us(t1)) // 1000 END AS BIGINT) AS ms_to_purchase
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("t1") && col("ts") <= col("t1") + expr("INTERVAL 24 HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").join(v, "user_id")
        .where(col("ts") > col("t2") && col("ts") <= col("t1") + expr("INTERVAL 24 HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + col("t2").isNotNull.cast("long")
            + col("t3").isNotNull.cast("long")).as("steps"),
          when(col("t2").isNotNull,
            expr("(unix_micros(t2) - unix_micros(t1)) div 1000")).as("ms_to_click"),
          when(col("t3").isNotNull,
            expr("(unix_micros(t3) - unix_micros(t1)) div 1000")).as("ms_to_purchase"))
        .orderBy(col("user_id"))
    },

    // B34 (r11): RETENTION / cohort matrix — the second classic of
    // product analytics: users cohorted by their signup week (integer
    // week index = epoch_us div the week's microseconds — no calendar
    // arithmetic to disagree on), each later active week recorded as an
    // integer offset from THEIR signup; the matrix cell is distinct
    // users. 100 TB shape: one slim (user_id, min ts) agg, one
    // co-partitioned join back to the event stream, one distinct on
    // (cohort, offset, user) that map-side combines — the event payload
    // never moves. All integer ⇒ hash-gated.
    Q("q34_retention",
      """WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id,
        |        epoch_us(s.t0) // 604800000000 AS cohort_wk,
        |        (epoch_us(e.ts) - epoch_us(s.t0)) // 604800000000 AS offset_wk
        |      FROM events e JOIN s ON s.user_id = e.user_id
        |      WHERE e.ts >= s.t0)
        |SELECT cohort_wk, offset_wk, count(*) AS users
        |FROM a GROUP BY cohort_wk, offset_wk
        |ORDER BY cohort_wk, offset_wk""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val s0 = e.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      e.join(s0, "user_id")
        .where(col("ts") >= col("t0"))
        .select(col("user_id"),
          expr("unix_micros(t0) div 604800000000").as("cohort_wk"),
          expr("(unix_micros(ts) - unix_micros(t0)) div 604800000000").as("offset_wk"))
        .distinct()
        .groupBy(col("cohort_wk"), col("offset_wk"))
        .agg(count(lit(1)).as("users"))
        .orderBy(col("cohort_wk"), col("offset_wk"))
    },

    // D1-gate: the STREAMING form of q20, run to completion through
    // Structured Streaming (AvailableNow trigger → complete-mode sink)
    // and gated against the SAME DuckDB oracle as the batch query
    // — batch/stream parity checked by the driver, not just a spec.
    Q("q20s_stream_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
        |  event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY hour_bucket, event_type""".stripMargin) { (s, dir) =>
      // exact integer cents in the streaming state too (same Fixed
      // discipline as batch q20 — the oracles are twins and must stay
      // in lockstep)
      runStream(s, OutputMode.Complete) {
        streamOf(s, dir, "events").groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            Fixed.asDouble(sum(Fixed.cents(col("value"))), 100L).as("total_value"))
      }.orderBy(col("hour_bucket"), col("event_type"))
    },

    // D2-gate: STREAMING sessionization through Spark's session_window,
    // run to completion (AvailableNow → complete-mode sink) and
    // driver-gated like q20s. NOTE the deliberate semantic difference
    // from batch q21: session_window closes a session only when the next
    // event starts STRICTLY after previous-end (= prev ts + gap) — an
    // event at EXACTLY the boundary merges (Spark's sessions iterators
    // break on newStart > currentEnd) — and compares microsecond-exact,
    // while q21 replicates DuckDB date_diff's whole-second truncation.
    // The oracle restates session_window's own rule (break only at
    // > INTERVAL 30 MINUTE), so both gates pin their respective
    // semantics instead of papering over the difference.
    Q("q21s_stream_sessions",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      runStream(s, OutputMode.Complete) {
        streamOf(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
          .select(col("user_id"), col("sw.start").as("session_start"),
            col("n_events"), col("total_value"))
      }.orderBy(col("user_id"), col("session_start"))
    },

    // D4-gate: streaming DISTINCT via aggregation state — the
    // keep-first-occurrence shape of streaming dedup, run to completion
    // and driver-gated. Streaming disallows count_distinct directly, so
    // the distinct (user, type) pairs are the STREAMING state (one
    // stateful groupBy) and the per-type rollup is a batch query over
    // the completed sink — the standard two-level distinct-aggregate
    // split, with the stream holding exactly |distinct pairs| state.
    Q("q17s_stream_distinct",
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      runStream(s, OutputMode.Complete) {
        streamOf(s, dir, "events").select(col("user_id"), col("event_type"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
      }
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"))
        .orderBy(col("event_type"))
    },

    // B28: range (interval) join — clicks of the same user within the
    // hour before each purchase. The naive plan for a range predicate is
    // a nested-loop over the pair space; the scale form BUCKETIZES time
    // into interval-width bins and equi-joins on (user_id, bin): a click
    // in bin b only ever matches purchases in bins {b, b+1}, so the
    // probe side explodes ×2 and both sides shuffle once on uniform
    // keys, with the exact range predicate re-applied after the
    // equi-join. PlanSpec asserts no nested-loop/cartesian appears.
    Q("q28_range_join",
      """SELECT p.event_id, CAST(count(c.ts) AS BIGINT) AS n_clicks
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val binUs = 3600000000L // 1 h in microseconds
      val e = Tables.events(s, dir)
      // integer `div` for the bin: double division + cast truncates
      // toward zero (wrong bin pre-1970) and rides a shrinking ulp margin
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          expr(s"unix_micros(ts) div $binUs").as("bin"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"),
          expr(s"unix_micros(ts) div $binUs").as("pbin"))
        .select(col("p_id"), col("user_id"), col("p_ts"),
          explode(array(col("pbin") - 1, col("pbin"))).as("bin"))
      // the exact range predicate rides INSIDE the left join (residual
      // condition on the equi keys): a post-join filter would drop
      // purchases whose bin-matched clicks are all out of range, where
      // the oracle keeps them with count 0
      purchases.as("p").join(clicks.as("c"),
          col("p.user_id") === col("c.user_id") && col("p.bin") === col("c.bin") &&
            col("c.c_ts") >= col("p.p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c.c_ts") < col("p.p_ts"), "left")
        .groupBy(col("p.p_id").as("event_id"))
        .agg(count(col("c.c_ts")).as("n_clicks"))
        .orderBy(col("event_id"))
    },

    // D5-gate: watermarked STREAM-STREAM interval join — the streaming
    // twin of B28, INNER (matched pairs emit as soon as both sides
    // arrive; append mode, the only mode stream-stream joins support).
    // Spark keys the join state on the user_id equi-condition and prunes
    // it with the two-sided time bound + watermarks, which is exactly
    // B28's bucketize-by-interval trick performed by the engine's state
    // store. The per-purchase count is a BATCH rollup over the completed
    // sink: an aggregation downstream of a stream-stream join would need
    // the watermark to pass each purchase before emitting, and
    // AvailableNow ends with the final micro-batch's watermark still
    // delay-behind max event time — the tail purchases would be
    // silently withheld from the gate. (Oracle is INNER, so zero-click
    // purchases don't appear — that's B28's LEFT-join job.)
    Q("q28s_stream_join",
      """SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      // the join output is the raw PAIR SPACE — O(matched pairs), not a
      // small aggregate like the other gates' sinks — and the harness's
      // sink keeps it on executors; the rollup is a batch scan of it
      runStream(s, OutputMode.Append) {
        val purchases = streamOf(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val clicks = streamOf(s, dir, "events").where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") < col("p_ts"))
      }
        .groupBy(col("p_id").as("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy(col("event_id"))
    })
}
