package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Checkpoints.StableOps

/** Temporal join operators Spark lacks as primitives — as-of join and
  * interval/range join — composed from equi-join + window machinery so the
  * physical plan is a single keyed shuffle, never a per-row lateral probe
  * or an O(n²) BroadcastNestedLoop theta join.
  */
object Temporal {

  /** Generic as-of join: for every left row, the single right row with the
    * greatest `rTime` ≤ `lTime` within the same `key`. Implemented as the
    * classic union-and-carry-forward plan: tag both sides, sort each key
    * group by (time, side) with right rows first on ties, and carry the
    * last non-null right payload forward with one window pass — one
    * shuffle on `key`, O(n log n) per group, no lateral subquery. The
    * right side must be unique per (key, rTime) (pre-aggregate if not) so
    * the match is deterministic.
    *
    * `payload` columns are taken from the right side and surfaced on every
    * left row (null where no right row precedes). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               lTime: String, rTime: String, payload: Seq[String],
               forward: Boolean = false): DataFrame = {
    val lCols = left.columns
    val lTagged = left.select(
      (col(key) +: col(lTime).as("__t") +: lit(1).as("__side") +:
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p))) ++
        lCols.filterNot(_ == key).map(col): _*)
    val rTagged = right.select(
      (col(key) +: col(rTime).as("__t") +: lit(0).as("__side") +:
        payload.map(col)) ++
        lCols.filterNot(_ == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // forward mode (smallest rTime ≥ lTime) is the same carry pass over
    // the REVERSED time order; right rows still sort first on ties so an
    // exactly-equal right row matches in both directions
    val w = Window.partitionBy(key)
      .orderBy(if (forward) col("__t").desc else col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(rTagged.unionByName(lTagged)) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__t", "__side")
  }

  /** Declared as-of demo: each event matched to the user's most recent
    * order (by order date) at or before the event's date. Orders are
    * pre-aggregated to one row per (custkey, date) — max orderkey — so the
    * as-of match is deterministic; the DuckDB oracle uses its native
    * ASOF LEFT JOIN over the same deduplicated right side. */
  def asofOrders(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("__d"))
      .agg(max(col("o_orderkey")).as("asof_orderkey"))
      .withColumn("asof_orderdate", date_format(col("__d"), "yyyy-MM-dd"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("__d"))
    asofJoin(ev, ords, "user_id", "__d", "__d",
        Seq("asof_orderkey", "asof_orderdate"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("asof_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("asof_orderdate"), lit("")).as("asof_orderdate"))
      .orderBy("event_id")
  }

  /** Forward as-of demo — time-to-next-order: each event matched to the
    * user's EARLIEST order at or after the event's date (the [[asofJoin]]
    * helper in forward mode — same single keyed shuffle, reversed carry
    * order), with the wait in days. The operational twin of
    * [[asofOrders]]: backward as-of answers "state at the time",
    * forward answers "time until the next action" — conversion lag,
    * time-to-restock, next-maintenance. Orders pre-aggregate to one row
    * per (custkey, date) — MIN orderkey, the deterministic choice for
    * the forward direction. */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("__d"))
      .agg(min(col("o_orderkey")).as("next_orderkey"))
      .withColumn("next_orderdate", date_format(col("__d"), "yyyy-MM-dd"))
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("__d"))
    asofJoin(ev, ords, "user_id", "__d", "__d",
        Seq("next_orderkey", "next_orderdate"), forward = true)
      .select(col("event_id"), col("user_id"),
        coalesce(col("next_orderkey"), lit(-1L)).as("next_orderkey"),
        when(col("next_orderdate").isNull, lit(-1L))
          .otherwise(datediff(to_date(col("next_orderdate")), col("__d"))
            .cast("long")).as("days_until"))
      .orderBy("event_id")
  }

  /** Ordered event-sequence funnel (view → click → purchase): per user,
    * the earliest view, then the earliest click AT OR AFTER that view,
    * then the earliest purchase at or after that click — the classic
    * conversion-funnel rule where each stage must follow the previous
    * one in event time, within a 1-day conversion window per stage. Three
    * keyed aggregations chained by left joins on user_id (each a
    * one-shuffle conditional min — no per-user sequence scan, no window
    * over the full event log), then a tiny stage histogram. Ties at equal
    * timestamps count as progression (>=), which both engines evaluate
    * identically on exact microseconds. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    def stageMin(typ: String, prev: DataFrame, prevCol: String, out: String) =
      ev.filter(col("event_type") === typ)
        .join(prev, Seq("user_id"))
        .filter(col("ts") >= col(prevCol) &&
                col("ts") <= col(prevCol) + expr("INTERVAL 1 DAY"))
        .groupBy("user_id").agg(min(col("ts")).as(out))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = stageMin("click", v, "t_view", "t_click")
    val p = stageMin("purchase", c, "t_click", "t_purchase")
    val users = ev.select("user_id").distinct()
    users.join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        (when(col("t_view").isNotNull, 1).otherwise(0) +
         when(col("t_click").isNotNull, 1).otherwise(0) +
         when(col("t_purchase").isNotNull, 1).otherwise(0)).cast("long").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** Slowly-changing-dimension type-2 derivation (the CDC compaction
    * step): treat events as a change stream of each user's event_type and
    * emit one validity interval per actual change — consecutive repeats
    * collapsed, `valid_to` = next change's timestamp, open versions closed
    * with the classic 9999-12-31 sentinel and flagged current. Both window
    * passes share one (user_id)-keyed shuffle and sort; at 100 TB this is
    * the standard one-shuffle history rebuild (or an incremental merge
    * against yesterday's snapshot — `q_upsert`'s shape). Ties broken by
    * event_id on both engines. */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val fmt = "yyyy-MM-dd HH:mm:ss"
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
      .withColumn("__vt", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_format(col("ts"), fmt).as("valid_from"),
        coalesce(date_format(col("__vt"), fmt), lit("9999-12-31 23:59:59")).as("valid_to"),
        col("__vt").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Cohort retention: users are grouped into cohorts by the day they
    * first appear (integer days since a fixed epoch — pure int64 math, no
    * calendar/timezone edge), and each (cohort, offset) cell counts the
    * distinct users active k days later, plus the retained fraction (one
    * IEEE division of exact counts). Two keyed aggregations — first-seen
    * min per user, then distinct users per (cohort, day) — and a
    * broadcast join of cohort sizes: the linear product-analytics shape
    * at any scale (the grain would be weekly on a years-long corpus). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("datediff(to_date(ts), '1990-01-01')").cast("long").as("d"))
    val firstDay = ev.groupBy("user_id").agg(min(col("d")).as("cohort"))
    val active = ev.distinct()
    val cells = active.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort"), (col("d") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = firstDay.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    cells.join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("offset"), col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retained_frac"))
      .orderBy("cohort", "offset")
  }

  /** Gaps-and-islands: each user's maximal runs of consecutive active
    * days, found with the classic row-number difference trick — within a
    * user, consecutive days share the constant (day − row_number), so one
    * window pass assigns island ids and one grouped aggregate collapses
    * them to (start, end, length). A single (user)-keyed shuffle serves
    * both the window sort and the island aggregate; nothing here is
    * corpus-size-dependent beyond the linear scan. */
  def gapsIslands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("d")
    Tables.events(s, dir)
      .select(col("user_id"),
        expr("datediff(to_date(ts), '1990-01-01')").cast("long").as("d"))
      .distinct()
      .withColumn("isl", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(min(col("d")).as("start_d"), max(col("d")).as("end_d"),
           count(lit(1)).as("len"))
      .select(col("user_id"), col("start_d"), col("end_d"), col("len"))
      .orderBy("user_id", "start_d")
  }

  /** Interval/range self-join on events: pairs of same-type events with
    * the second falling in (first, first + 5 min]. The scale plan buckets
    * event time into 5-minute cells and expands the left side to (cell,
    * cell+1): every qualifying pair then shares an equi-join key (type,
    * cell) and the exact interval predicate filters the candidates — a
    * linear shuffle instead of a quadratic theta join. */
  def rangeJoinEvents(s: SparkSession, dir: String): DataFrame = {
    val BucketUs = 300000000L // 5 minutes in microseconds
    val e = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    // integer `div`, not double division: a double quotient can round up
    // across a cell boundary for us within 1 ulp of a multiple of BucketUs
    val a = e.select(col("event_type"), col("us").as("us_a"))
      .withColumn("__off", explode(array(lit(0L), lit(1L))))
      .withColumn("__cell", expr(s"us_a div $BucketUs") + col("__off"))
    val b = e.select(col("event_type"), col("us").as("us_b"),
      expr(s"us div $BucketUs").as("__cell"))
    a.join(b, Seq("event_type", "__cell"))
      .filter(col("us_b") > col("us_a") && col("us_b") <= col("us_a") + BucketUs)
      .groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
      .orderBy("event_type")
  }

  /** First-order Markov transition matrix of the event stream: per user,
    * order events by (ts, event_id) and count (previous type → next type)
    * transitions; `share_ppm` is the row-conditional probability in exact
    * integer parts-per-million ((n·10⁶) div row total — no float
    * division, so the matrix hashes identically in both engines). One
    * (user)-keyed shuffle feeds the lag window; the transition counts and
    * the per-prev totals are tiny (|types|² rows). */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    t.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("(n * 1000000) div tot").as("share_ppm"))
      .orderBy("prev_type", "next_type")
  }

  /** Last-touch attribution: every purchase is credited to the same
    * user's most recent click at or before it — the as-of join again
    * ([[asofJoin]]: one keyed shuffle, no lateral probe) — then revenue
    * (exact integer cents) is rolled up by the hour-of-day of the
    * credited click, with hour −1 collecting unattributed purchases.
    * Clicks are pre-deduplicated to one row per (user, ts) (max
    * event_id) so the match is deterministic; the oracle uses DuckDB's
    * native ASOF LEFT JOIN. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("__t"))
      .agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("__t").as("ts"),
        hour(col("__t")).cast("long").as("click_hour"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
    asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("click_hour"))
      .groupBy(coalesce(col("click_hour"), lit(-1L)).as("click_hour"))
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("revenue_cents"))
      .orderBy("click_hour")
  }

  /** Watermark late-data census: per event type, how many events arrive
    * with an event time older than the max event time already seen for
    * that user — exactly the rows a streaming watermark would drop (and
    * at which lateness thresholds), answered in batch so an operator can
    * size `withWatermark` before deploying a streaming job. The fixture
    * has no ingest-time column (its event_id order is time-monotone), so
    * arrival order is modeled as a deterministic multiplicative-hash
    * permutation of event_id — documented synthetic re-ordering, same
    * discipline as the fixture's other derived columns.
    *
    * Scale shape: one window partitioned by user (running max — bounded
    * per-user state, the same state a streaming engine keeps), then a
    * k-row aggregate. No global ordering anywhere. */
  def lateData(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("tus"),
      ((col("event_id") * 1000003L) % 10000019L).as("arr"))
    val w = Window.partitionBy("user_id").orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("late_us", max(col("tus")).over(w) - col("tus"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("late_us") > 3600L * 1000000L, 1L).otherwise(0L)).as("n_late_1h"),
        sum(when(col("late_us") > 86400L * 1000000L, 1L).otherwise(0L)).as("n_late_1d"),
        max(col("late_us")).as("max_late_us"))
      .orderBy("event_type")
  }

  /** Inter-event gap distribution — the measurement that TUNES the
    * sessionization threshold ([[Relational.sessionize]]'s fixed 30
    * minutes): per-user consecutive-event gaps, summarized as exact
    * order-statistic percentiles (p50/p90/p99, values AT a rank — no
    * interpolation, so they hash-check unrounded) plus the ppm share of
    * gaps that a 30-minute timeout would split. A bimodal gap histogram
    * (short within-session, long between-session) shows up directly in
    * the p50↔p99 spread.
    *
    * Scale shape: gaps come from one per-user lag window (user-keyed,
    * spreads across the cluster); the global percentile ranks use the
    * equi-depth two-phase block prefix sum — blocks are minute-granular
    * gap values (bounded domain), so no single-partition global window
    * exists. Ties in the rank order break by (user_id, event_id). */
  def eventGaps(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(wU))
      .filter(col("gap_us").isNotNull)
      .select(col("user_id"), col("event_id"), col("gap_us"),
        expr("gap_us div 60000000").as("blk"))
    val blockTotals = gaps.groupBy("blk").agg(count(lit(1)).as("bt"))
    val wBlk = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blockTotals
      .withColumn("off", coalesce(sum("bt").over(wBlk), lit(0L))).drop("bt")
    val wIn = Window.partitionBy("blk")
      .orderBy(col("gap_us"), col("user_id"), col("event_id"))
    val ranked = gaps.join(broadcast(offsets), "blk")
      .withColumn("rank", col("off") + row_number().over(wIn))
    val tot = gaps.agg(count(lit(1)).as("nn"))
    // integer ceil: rank ⌈q·n⌉ = (q_num·n + q_den − 1) div q_den — float-free
    ranked.crossJoin(broadcast(tot)).agg(
        max(col("nn")).as("n_gaps"),
        max(when(col("rank") === expr("(nn + 1) div 2"), col("gap_us")))
          .as("p50_us"),
        max(when(col("rank") === expr("(9 * nn + 9) div 10"), col("gap_us")))
          .as("p90_us"),
        max(when(col("rank") === expr("(99 * nn + 99) div 100"), col("gap_us")))
          .as("p99_us"),
        sum(when(col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .as("n_over_30m"))
      .select(col("n_gaps"), col("p50_us"), col("p90_us"), col("p99_us"),
        col("n_over_30m"),
        expr("n_over_30m * 1000000L div n_gaps").as("over_30m_ppm"))
  }

  /** Diurnal seasonality profile: the hour-of-day load curve per event
    * type — each of the ≤ 24·k cells carries its exact count and its
    * integer-ppm share of the type's traffic, plus a peak marker on the
    * type's busiest hour (ties to the earliest hour). The profile a
    * capacity planner or anomaly detector baselines against, and the
    * first thing a traffic dashboard draws.
    *
    * Scale shape: one map-side-combined groupBy collapses the corpus to
    * the fixed ≤ 24·k cell table; totals and peaks are re-aggregations
    * of the CELLS (never a second corpus read), broadcast back onto the
    * cell table. Shares are exact integer ppm (count·10⁶ div total), so
    * the profile is bit-reproducible. */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val totals = cells.groupBy("event_type")
      .agg(sum(col("n_events")).as("total"),
        max(struct(col("n_events"), (-col("hod")).as("nh"))).as("pk"))
      .select(col("event_type"), col("total"),
        (-col("pk.nh")).as("peak_hour"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("hod"),
        col("n_events"),
        expr("n_events * 1000000L div total").as("share_ppm"),
        (col("hod") === col("peak_hour")).as("is_peak"))
      .orderBy("event_type", "hod")
  }

  /** Volume changepoint detection — the max-CUSUM split statistic over
    * the hourly event-count curve: for every candidate split hour h, the
    * deviation |S_h·H − (h+1)·S| measures how far the prefix mass
    * diverges from a constant rate (S_h = events through h, S = total,
    * H = hours); the argmax is the most likely level-shift point. The
    * monitor that catches "traffic halved at 3 AM Tuesday" as a single
    * ranked row instead of a dashboard squint. Reported: the split hour
    * (earliest on ties), the before/after hourly rates in milli-events,
    * and the normalized deviation in ppm of the theoretical maximum
    * S·H — all exact integers.
    *
    * Scale shape: the corpus collapses map-side to ≤ H hourly cells;
    * every window after that runs over the CELL table (hours, not
    * events) — the bounded-domain discipline of the equi-depth ranks.
    * At 100 TB, H is still just the number of hours in the corpus. */
  def changepoint(s: SparkSession, dir: String): DataFrame =
    changepointOf(hourlyCells(Tables.events(s, dir)))

  /** Hourly event-count cells `(h, c)` of an events frame, batch or
    * streaming. */
  private[graft] def hourlyCells(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))

  /** The max-CUSUM split row of an [[hourlyCells]] table. */
  private[graft] def changepointOf(cells: DataFrame): DataFrame = {
    val w = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("c")).as("s"), count(lit(1)).as("hh"))
    val scored = cells.crossJoin(broadcast(tot))
      .withColumn("idx", row_number().over(Window.orderBy("h")).cast("long"))
      .withColumn("sh", sum(col("c")).over(w))
      .withColumn("dev",
        abs(expr("cast(sh as decimal(38,0)) * hh - cast(idx as" +
          " decimal(38,0)) * s")))
    scored
      .withColumn("best", max(struct(col("dev"),
        (-col("idx")).as("ni"))).over(Window.partitionBy(lit(1))))
      .filter(col("idx") === -col("best.ni"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("split_hour"),
        col("sh").as("n_before"), (col("s") - col("sh")).as("n_after"),
        expr("sh * 1000L div idx").as("rate_before_milli"),
        when(col("hh") === col("idx"), lit(0L))
          .otherwise(expr("(s - sh) * 1000L div (hh - idx)"))
          .as("rate_after_milli"),
        expr("cast(cast(best.dev as decimal(38,0)) * 1000000 div" +
          " (cast(s as decimal(38,0)) * hh) as bigint)").as("dev_ppm"))
  }

  /** Ingest freshness census — per event type: volume, last-seen event
    * time, staleness against the corpus watermark (the newest event
    * anywhere), and trailing-24 h volume. The first page of any pipeline
    * health dashboard: a type whose staleness grows while others ingest
    * is a dead upstream, caught before a consumer reads stale joins.
    *
    * Scale shape: ONE map-side-combined aggregation collapses the corpus
    * to k type rows carrying (count, max ts, conditional count); the
    * corpus watermark is a 1-row re-aggregation of those k rows
    * broadcast back. The trailing-24 h count uses a self-contained
    * two-read-free trick: it needs the watermark BEFORE aggregating, so
    * it instead aggregates a (type, day-bucket) preshape — still one
    * corpus pass — and finishes on the bucket table. */
  def freshness(s: SparkSession, dir: String): DataFrame = {
    // (type, minute) cells: fine enough to cut an exact 24 h trailing
    // window at minute precision once the watermark is known, coarse
    // enough that the cell table is ≤ k·minutes rows
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("mx"))
    val wm = cells.agg(max(col("mx")).as("wm"))
    cells.crossJoin(broadcast(wm))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        date_format(max(col("mx")), "yyyy-MM-dd HH:mm:ss").as("last_seen"),
        min(expr("unix_micros(wm) - unix_micros(mx)")).as("stale_us"),
        sum(when(col("m") > expr("wm - INTERVAL 24 HOURS"), col("n"))
          .otherwise(0L)).as("n_last_day"))
      .select(col("event_type"), col("n_events"), col("last_seen"),
        expr("stale_us div 1000000").as("staleness_s"), col("n_last_day"))
      .orderBy("event_type")
  }

  /** Peak concurrent sessions per hour — the sweep-line algorithm
    * distributed: sessionize (30-min gap), emit a +1 boundary event at
    * each session start and a −1 at its end, and the running sum of
    * deltas in global time order IS the concurrency curve; the report is
    * each hour's boundary count and concurrency peak. This is the
    * capacity metric ("how many users were on at once") that a naive
    * formulation computes with a single-partition global window.
    *
    * Here the global running sum is the two-phase BLOCK PREFIX
    * (pack_sequences / equi-depth discipline, applied to sweep-lines):
    * hour-block-local running sums in parallel windows, plus per-block
    * net-delta offsets accumulated over the ≤ hours-in-corpus block
    * table — no corpus-sized single partition anywhere. Tie order is
    * pinned (t, +1 before −1, user, session), so touching sessions
    * count as concurrent and the curve is deterministic; hours with no
    * boundary events carry concurrency silently and emit no row
    * (documented contract — the oracle sees the same hours).
    *
    * Scale shape: one user-keyed sessionization exchange, a 2× map-side
    * boundary fan-out, hour-partitioned windows, and an hours-sized
    * offset table joined back (AQE broadcasts it). */
  def concurrency(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      // STABILIZE the session table (round 17): the sweep-line below
      // fans it out twice (start points ∪ end points) and each union
      // branch compiled the whole events window pipeline again — one
      // sessionize pass, not two, at every scale (guide §5: reuse beats
      // recompute when the reused table is the smaller one; sessions are
      // a fraction of events)
      .stable
    val pts = sess
      .select(col("st").as("t"), lit(1L).as("d"), col("user_id"), col("sess_id"))
      .unionAll(sess.select(col("en").as("t"), lit(-1L).as("d"),
        col("user_id"), col("sess_id")))
      .withColumn("blk", date_trunc("hour", col("t")))
    val wBlk = Window.partitionBy("blk")
      .orderBy(col("t"), col("d").desc, col("user_id"), col("sess_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = pts.withColumn("run", sum(col("d")).over(wBlk))
    val wOff = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = pts.groupBy("blk").agg(sum(col("d")).as("net"))
      .withColumn("off", coalesce(sum(col("net")).over(wOff), lit(0L)))
    local.join(off.select(col("blk"), col("off")), "blk")
      .groupBy(date_format(col("blk"), "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("d") === -1L, 1L).otherwise(0L)).as("n_ends"),
        max(col("off") + col("run")).as("peak_concurrency"))
      .orderBy("hour")
  }

  /** Path-to-purchase mining: the top-20 three-step event-type paths
    * that END in a purchase, with their share of all purchases (exact
    * ppm) — the sequence-mining upgrade of [[transitionMatrix]]'s
    * bigrams: which two preceding actions actually funnel into
    * conversion. Purchases with fewer than two preceding events count
    * under the start-marker '^' so shares still sum over all purchases.
    *
    * Scale shape: one user-keyed window (two `lag`s over each user's
    * timeline — bounded per-user state, the same exchange the
    * transition matrix pays), a map-side filter to purchase rows, one
    * (path)-keyed count, and a TakeOrdered top-20; the purchase total
    * re-aggregates the path counts, never the corpus. */
  def pathToPurchase(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("p1", lag(col("event_type"), 1).over(wu))
      .withColumn("p2", lag(col("event_type"), 2).over(wu))
      .filter(col("event_type") === "purchase")
      .select(concat_ws(" > ", coalesce(col("p2"), lit("^")),
        coalesce(col("p1"), lit("^")), col("event_type")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    val total = paths.agg(sum(col("n")).as("total"))
    paths.crossJoin(broadcast(total))
      .select(col("path"), col("n"),
        expr("n * 1000000L div total").as("share_ppm"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Multi-touch attribution — the fractional-credit generalization of
    * [[attribution]]'s last-touch model: every click in a purchase's
    * 24-hour lookback window earns a share of the revenue, under two
    * models side by side: LINEAR (equal split) and TIME-DECAY (weight
    * 24 − age-in-hours, so the touch nearest the purchase earns most).
    * Credits are exact integer cents with the division remainder pinned
    * to the LAST touch, so each purchase's credits sum to exactly its
    * revenue — conservation holds bit-exactly (asserted in CensusSpec)
    * and both engines agree. Purchases with no touch in the window keep
    * their full revenue in the −1 bucket, as in last-touch.
    *
    * Scale shape: the touch table is a USER-keyed equi-join (purchases ⋈
    * clicks on user_id) filtered to the 24 h window — per-user fan-out
    * is bounded by per-user activity, never a corpus cross-product; all
    * per-purchase statistics (k, Σw, last flag, remainder) are windows
    * over that purchase-bounded table; the report is a ≤ 25-row hourly
    * rollup. */
  def mtaAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts")).distinct()
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
        expr("cast(floor(value * 100) as bigint)").as("cents"))
    val touches = purchases.join(clicks, Seq("user_id"))
      .filter(col("cts") <= col("pts") &&
        col("cts") > col("pts") - expr("INTERVAL 24 HOURS"))
      .withColumn("w", lit(24L) -
        expr("(unix_micros(pts) - unix_micros(cts)) div 3600000000"))
    val wp = Window.partitionBy("pid")
    val scored = touches
      .withColumn("k", count(lit(1)).over(wp))
      .withColumn("wsum", sum(col("w")).over(wp))
      .withColumn("is_last", col("cts") === max(col("cts")).over(wp))
      .withColumn("lin0", expr("cents div k"))
      .withColumn("dec0", expr("cents * w div wsum"))
      .withColumn("lin", when(col("is_last"),
          col("cents") - expr("(cents div k) * (k - 1)"))
        .otherwise(col("lin0")))
      .withColumn("dec", when(col("is_last"),
          col("cents") - (sum(col("dec0")).over(wp) - col("dec0")))
        .otherwise(col("dec0")))
    val orphans = purchases
      .join(touches.select("pid").distinct(), Seq("pid"), "left_anti")
      .select(lit(-1L).as("click_hour"),
        col("cents").as("lin"), col("cents").as("dec"))
    scored
      .select(hour(col("cts")).cast("long").as("click_hour"),
        col("lin"), col("dec"))
      .unionAll(orphans)
      .groupBy("click_hour")
      .agg(count(lit(1)).as("n_credits"),
        sum(col("lin")).as("linear_cents"),
        sum(col("dec")).as("decay_cents"))
      .orderBy("click_hour")
  }

  /** LOCF imputation (last observation carried forward): every event
    * annotated with the user's most recent purchase amount at or before
    * it (exact cents; −1 before the first purchase) — the standard
    * missing-value fill for irregular time series, and the feature
    * engineering step ("last basket size at the time of this event")
    * that must NOT leak future data. One user-keyed window with an
    * ignore-nulls running last — per-user bounded state, the exact shape
    * a streaming version would keep.
    *
    * Scale shape: one keyed exchange + sort; no joins, no fan-out. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase",
          expr("cast(floor(value * 100) as bigint)")).as("pc"))
      .withColumn("locf_cents",
        coalesce(last(col("pc"), ignoreNulls = true).over(w), lit(-1L)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("locf_cents"))
      .orderBy("event_id")
  }

  /** Month-over-month growth table: corpus revenue per calendar month
    * with the MoM delta in exact ppm (NULL for the first month, exactly
    * as the oracle's integer division of a NULL lag) — the first chart
    * of any revenue dashboard, over the same bounded month-cell table as
    * [[spendTrend]].
    *
    * Scale shape: corpus → ≤ months cells map-side; the lag window runs
    * over the cell table. */
  def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("m")
    Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .agg(sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("rev"))
      .withColumn("prev", lag(col("rev"), 1).over(w))
      // first month has no predecessor: dropped rather than carrying a
      // NULL the hash compare can't equate (NaN != NaN in the gate)
      .filter(col("prev").isNotNull)
      .select(
        expr("format_string('%04d-%02d', (m - 1) div 12, (m - 1) % 12 + 1)")
          .as("month"),
        col("rev").as("rev_cents"),
        expr("(rev - prev) * 1000000L div prev").as("mom_growth_ppm"))
      .orderBy("month")
  }

  /** Cohort LTV triangle — customers cohorted by FIRST-order month, and
    * for each cohort age (months since acquisition) the exact cumulative
    * revenue per acquired customer in micro-cents: the lifetime-value
    * curve finance reads to see whether newer cohorts monetize faster.
    * The cumulative sum runs over the (cohort, age) CELL table (months²/2
    * rows at most), partitioned by cohort — never over orders.
    *
    * Scale shape: one customer-keyed aggregation finds each customer's
    * cohort month (min order month — map-side combinable), one join
    * carries it back onto orders (customer-keyed, AQE-broadcastable
    * side), one (cohort, age) aggregation collapses the corpus, and the
    * triangle arithmetic is windowed over cells. */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val om = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey"), om.as("m"),
        expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
    val cohorts = orders.groupBy("o_custkey").agg(min(col("m")).as("cm"))
    val sizes = cohorts.groupBy("cm").agg(count(lit(1)).as("n_customers"))
    val cells = orders.join(cohorts, "o_custkey")
      .groupBy(col("cm"), (col("m") - col("cm")).as("age"))
      .agg(sum(col("cents")).as("rev"))
    val w = Window.partitionBy("cm").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum", sum(col("rev")).over(w))
      .join(sizes, "cm")
      .select(col("cm").as("cohort_month"), col("age"), col("n_customers"),
        col("rev").as("rev_cents"), col("cum").as("cum_cents"),
        expr("cast(cast(cum as decimal(38,0)) * 1000000 div n_customers" +
          " as bigint)").as("ltv_microcents"))
      .orderBy("cohort_month", "age")
  }

  /** Per-segment revenue trend: exact OLS slope of monthly spend (in
    * cents) against the month index, per market segment — the
    * growing-or-shrinking verdict a health dashboard puts next to every
    * cohort. Slope is the closed form
    * `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` over integer inputs: x is the
    * month offset from the corpus's first month (a 1-row aggregate
    * broadcast back, keeping x small), y is exact cents, and the final
    * ratio is scaled to micro-cents-per-month through DECIMAL(38,0)
    * (`Σxy·10⁶` overflows int64 at real revenue volumes).
    *
    * Scale shape: the corpus collapses to ≤ |segments|·|months| cells in
    * ONE map-side-combined aggregation (orders joins catalog-sized
    * customer to get the segment — AQE picks broadcast when it fits);
    * the regression itself is a per-segment fold over those cells. No
    * window, no second corpus pass. */
  def spendTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = segMonthlyCents(s, dir)
    val base = monthly.agg(min(col("m")).as("m0"))
    monthly.crossJoin(broadcast(base))
      .select(col("c_mktsegment"), (col("m") - col("m0")).as("x"), col("y"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("c_mktsegment"), col("n_months"),
        // nullif guards the single-month segment (denominator 0): the
        // engine then emits NULL exactly as DuckDB's `// 0` does,
        // instead of an ANSI DIVIDE_BY_ZERO error
        expr("cast((cast(n_months as decimal(38,0)) * sxy - cast(sx as" +
          " decimal(38,0)) * sy) * 1000000 div nullif(cast(n_months as" +
          " decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx, 0)" +
          " as bigint)").as("slope_microcents"))
      .orderBy("c_mktsegment")
  }

  /** Per-(segment, month) exact revenue cells — the shared collapse
    * behind the three trend statistics ([[spendTrend]] OLS,
    * [[theilSen]], [[mannKendall]]): one map-side-combined aggregation
    * reduces orders to ≤ |segments|·|months| rows of exact cents. */
  private def segMonthlyCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("y"))

  /** Month-pair slope table (x₂ > x₁ within a segment) — the bounded
    * all-pairs core of Theil–Sen and Mann–Kendall. Pair count is
    * months²/2 per segment (cells, never orders), so the "all-pairs"
    * here is a few thousand rows at ANY corpus size. */
  private def monthPairs(s: SparkSession, dir: String): DataFrame = {
    val cells = segMonthlyCents(s, dir)
    cells.select(col("c_mktsegment"), col("m").as("m1"), col("y").as("y1"))
      .join(cells.select(col("c_mktsegment"), col("m").as("m2"),
        col("y").as("y2")), Seq("c_mktsegment"))
      .filter(col("m1") < col("m2"))
  }

  /** Theil–Sen estimator — the ROBUST slope of monthly segment revenue:
    * the median of all pairwise month-to-month slopes, immune to the
    * outlier months that drag [[spendTrend]]'s OLS line (up to ~29%
    * contamination). The median slope is reported as an EXACT rational
    * (cents numerator, month denominator of the median pair) plus its
    * double value; selection orders by the IEEE slope with the exact
    * (num, den) pair as tie-break, so the pick is bit-deterministic on
    * both engines, and the even count takes the lower median.
    *
    * Scale shape: the corpus collapses to month cells first
    * ([[segMonthlyCents]] — one map-side-combined aggregation); the
    * all-pairs table and its per-segment rank window run over
    * months²-bounded cells, never rows. Differences need no epoch
    * anchor, so there is no 1-row broadcast here at all. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val pairs = monthPairs(s, dir)
      .select(col("c_mktsegment"),
        (col("y2") - col("y1")).as("num"), (col("m2") - col("m1")).as("den"))
      .withColumn("slope", col("num").cast("double") / col("den").cast("double"))
    val counted = pairs.groupBy("c_mktsegment").agg(count(lit(1)).as("n_pairs"))
    pairs
      .withColumn("rk", row_number().over(Window.partitionBy("c_mktsegment")
        .orderBy(col("slope"), col("num"), col("den"))))
      .join(counted, "c_mktsegment")
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("c_mktsegment"), col("n_pairs"),
        col("num").as("slope_num_cents"), col("den").as("slope_den_months"),
        col("slope").as("slope_cents_per_month"))
      .orderBy("c_mktsegment")
  }

  /** Mann–Kendall trend test — the nonparametric companion of
    * [[theilSen]]: S = Σ sign(y₂ − y₁) over all month pairs per segment,
    * Kendall's τ = S / C(n,2), and the sign verdict. Distribution-free
    * (no normality assumption behind it), exact: S is an int64 sum of
    * CASE signs (never a float sign function), τ one IEEE division of
    * exact integers. A segment needs ≥ 2 months to have pairs; ties in
    * revenue contribute 0 to S exactly as the textbook statistic.
    *
    * Scale shape: identical to [[theilSen]] — cells, then a bounded
    * pair table, then one per-segment fold. */
  def mannKendall(s: SparkSession, dir: String): DataFrame =
    monthPairs(s, dir)
      .select(col("c_mktsegment"),
        when(col("y2") > col("y1"), 1L).when(col("y2") < col("y1"), -1L)
          .otherwise(0L).as("sgn"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"))
      .select(col("c_mktsegment"), col("n_pairs"), col("s_stat"),
        (col("s_stat").cast("double") / col("n_pairs").cast("double"))
          .as("tau"),
        when(col("s_stat") > 0, "increasing")
          .when(col("s_stat") < 0, "decreasing")
          .otherwise("no_trend").as("verdict"))
      .orderBy("c_mktsegment")

  /** Rolling 7-day active users (WAU) next to daily actives (DAU) for
    * every observed day — the engagement curve, with the DAU/WAU ratio
    * ("stickiness") in exact ppm. The exact-distinct rolling window is
    * the hard part at scale: a naive per-day `COUNT(DISTINCT)` over a
    * range window either re-scans the week per day or holds unbounded
    * state.
    *
    * Scale shape: the corpus first collapses to the DISTINCT (day, user)
    * table — the one big reduction, map-side combined; each such row
    * then fans out to exactly the ≤ 7 window-days it contributes to
    * (bounded multiplication of the already-deduped table, the
    * `q_active_users` twin of pack_sequences' block discipline), and the
    * per-window-day distinct count shuffles (day, user) pairs once more.
    * Window days with no same-day activity are dropped by the semi-join
    * against observed days, matching the calendar the oracle sees. */
  def activeUsers(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val days = du.select(col("d")).distinct()
    val dau = du.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("day"),
        col("user_id"))
      .join(days.select(col("d").as("day")), Seq("day"), "left_semi")
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    wau.join(dau.select(col("d").as("day"), col("dau")), "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stickiness_ppm"))
      .orderBy("day")
  }
}
