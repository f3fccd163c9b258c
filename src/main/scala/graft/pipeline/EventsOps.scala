package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Event-stream analytics (batch shapes of the streaming operators; the streaming
  * variants live in [[graft.streaming.StreamOps]]).
  */
object EventsOps {

  /** Normalize `ts` to TimestampType across testdata layouts: a legacy
    * TIMESTAMP(NANOS) file surfaces as LongType nanos (under the nanosAsLong
    * read conf), the current layout as TIMESTAMP_NTZ micros. Session timezone
    * is UTC, so the NTZ→TZ cast preserves the wall-clock == instant identity
    * the DuckDB oracle's epoch() arithmetic assumes. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
    case TimestampType => df
    case _ => df.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** events.parquet with `ts` normalized to TimestampType (layout-adaptive). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(Tables.read(spark, s"$dir/events.parquet"))
  }

  /** Tumbling 5-minute windows per event type (Spark-idiomatic window() fn). */
  def window5m(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("total"))

  /** Ordered funnel analysis (view → click → purchase): for each user who
    * viewed, did a click STRICTLY AFTER the first view occur, and a purchase
    * strictly after that first qualifying click? The staged-min formulation
    * (first view, first click after it, first purchase after that) is the
    * standard funnel semantics and is expressible as three narrow
    * aggregations on the user key — after the first shuffle the stage joins
    * are co-partitioned, so the funnel costs one real exchange regardless of
    * stage count. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = e.join(v, "user_id")
      .filter(col("event_type") === "click" && col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = e.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    v.join(c.select(col("user_id"), lit(true).as("c0")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), lit(true).as("p0")), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("c0"), lit(false)).as("clicked"),
        coalesce(col("p0"), lit(false)).as("purchased"))
  }

  /** Weekly cohort retention: users are cohorted by their first active
    * week; for each (cohort week, week offset) count the distinct users
    * still active. The distinct (user, week) rows, the first week as a
    * `min` over a user-keyed window (no self-join, so no join strategy for
    * adaptive execution to change mid-query), then one (cohort,
    * offset)-keyed count — the textbook retention matrix, all integer
    * arithmetic (epoch-week buckets), no timezone sensitivity. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val wk = events(spark, dir).select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 604800L).as("w"))
      .distinct()
    wk.withColumn("w0", min("w").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .groupBy(col("w0").as("cohort"), (col("w") - col("w0")).as("off"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Sessionization: per-user session count with a 30-minute inactivity gap
    * (batch analogue of mapGroupsWithState sessionization).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    events(spark, dir)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** As-of join: each purchase event matched to the MOST RECENT strictly-
    * earlier view event of the same user (the classic point-in-time join of
    * feature pipelines: "state as of the moment of the label event").
    *
    * Scale shape — deliberately NOT a join: both event roles ride ONE
    * window pass over the user-keyed stream (`last(view_ts) ignoring nulls`
    * with rows preceding the current row), so the whole operator costs a
    * single hash exchange on `user_id` + an in-partition sort, independent of
    * how many candidate rights each left row has. A join formulation
    * (`p.ts > v.ts` range join) explodes to |p|×|v| per user before the
    * aggregate prunes it; the window formulation never materializes those
    * pairs, which is what survives a 100 TB event log with hot users.
    * Strictness: rows order by (ts, is_view) so a view at the exact purchase
    * timestamp sorts AFTER the purchase and is excluded — matching the
    * oracle's `p.ts > v.ts` ASOF condition. Purchases with no prior view
    * drop (inner as-of semantics). */
  def asofJoin(spark: SparkSession, dir: String,
      leftType: String = "purchase", rightType: String = "view"): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("event_type") === rightType).cast("int").as("is_right"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("is_right"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    e.withColumn("view_ts",
        last(when(col("is_right") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0 && col("view_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("view_ts"))).as("gap_us"))
  }

  /** Z-score anomaly detection per event type: flag events whose value sits
    * |z| >= `zThresh` standard deviations from the type mean — the metric
    * outlier monitor of an event pipeline. Values are fixed-pointed to
    * integer milli-units first, so the type-level moment sums (Σv, Σv²) are
    * exact integers and the z computation is one fixed IEEE op chain from
    * identical integers in both engines (z itself is micro-rounded before
    * the threshold cut). Scale: one map-side projection, one per-type moment
    * aggregate (broadcastable — |types| rows), one map-side flag pass. */
  def anomalies(spark: SparkSession, dir: String, zThresh: Double = 3.0): DataFrame = {
    val e = events(spark, dir).select(col("event_id"), col("event_type"),
      col("value"), round(col("value") * 1000).cast("long").as("mv"))
    val st = e.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum("mv").as("s1"), sum(col("mv") * col("mv")).as("s2"))
    val mu = col("s1").cast("double") / col("n")
    val varr = col("s2").cast("double") / col("n") - mu * mu
    e.join(broadcast(st), "event_type")
      // zero-variance guard: a type with one event or all-equal values would
      // produce z = 0/0 = NaN (and engines disagree on casting NaN) — such a
      // type has no outliers by definition, drop it before the division
      .filter(varr > 0)
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("mv") - mu) / sqrt(varr) * 1e6).cast("long").as("z_micro"))
      .filter(abs(col("z_micro")) >= (zThresh * 1e6).toLong)
  }

  /** JSON property extraction (props is a JSON string). Path-based
    * ([[get_json_object]]), not regex — robust to key order, whitespace and
    * escaping, and a missing path yields NULL (the second extracted field
    * `$.missing` exercises exactly that: its non-null count must be 0
    * whatever the corpus, where a regex would silently mis-match). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // ONE from_json parse per row (per-field get_json_object would re-parse
      // the document once per extraction — 3× JSON CPU on the hot scan)
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType
          .fromDDL("k BIGINT, missing STRING")).as("j"))
      .groupBy("event_type")
      .agg(sum(col("j.k")).as("sum_k"),
        max(col("j.k")).as("max_k"),
        count(col("j.missing")).as("n_missing"),
        count(lit(1)).as("n"))

  /** Last-touch-window click attribution, batch twin of
    * [[graft.streaming.StreamOps.attributeClicks]]: every (view, click) pair
    * of the same user with the click strictly after the view and within
    * `horizonMin` minutes. Same output contract as the streaming operator,
    * with the lag in exact integer microseconds.
    *
    * Scale shape — a BINNED interval join, not a user-wide cross: both sides
    * are keyed by (user_id, horizon-sized time bucket) and views replicate
    * into their own and the NEXT bucket (any qualifying view for a click in
    * bucket t started in t or t−1, since the window is one bucket long), so
    * the equi-join only pairs events within two horizon widths — per-key work
    * is bounded by horizon × per-user rate, never |views|×|clicks| per user.
    * This is the batch analogue of what the watermark bound gives the
    * stream-stream interval join. The exact interval condition filters the
    * bucket-candidates. */
  def attributeClicks(spark: SparkSession, dir: String,
      horizonMin: Int = 10): DataFrame = {
    val horizonUs = horizonMin * 60000000L
    val e = events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("view_us"))
      .withColumn("bkt", explode(array(floor(col("view_us") / horizonUs),
        floor(col("view_us") / horizonUs) + 1)))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"))
      .withColumn("bkt", floor(col("click_us") / horizonUs))
    views.join(clicks, Seq("bkt", "user_id"))
      .where(col("click_us") > col("view_us") &&
        col("click_us") - col("view_us") <= horizonUs)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("click_us") - col("view_us")).as("lag_us"))
  }

  /** RFM (recency / frequency / monetary) user features + quartile scores —
    * the classic behavioral feature-engineering operator. Per user: days
    * since last activity (integer days vs the corpus max timestamp),
    * event count, and purchase value in exact milli-units; each metric then
    * gets an ntile(4) quartile over a TOTAL order (metric, user_id), so
    * bucket assignment is deterministic in both engines (ANSI ntile: first
    * n mod 4 buckets take the extra row).
    *
    * Scale shape: one user-keyed aggregate; the corpus max is a 1-row
    * broadcast; the three ntiles are windows over the |users|-row frame
    * (users ≪ events — if even that sort is too big, the production
    * substitute is a percentile-threshold broadcast join, same outputs). */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val per = e.groupBy("user_id").agg(
      max(unix_micros(col("ts"))).as("last_us"),
      count(lit(1)).as("frequency"),
      sum(when(col("event_type") === "purchase",
        round(col("value") * 1000).cast("long")).otherwise(0L))
        .as("monetary_milli"))
    val mx = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    import org.apache.spark.sql.expressions.Window
    val rW = Window.orderBy(col("recency_days").asc, col("user_id").asc)
    val fW = Window.orderBy(col("frequency").desc, col("user_id").asc)
    val mW = Window.orderBy(col("monetary_milli").desc, col("user_id").asc)
    per.join(broadcast(mx))
      .withColumn("recency_days", expr("(max_us - last_us) DIV 86400000000L"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_milli"),
        ntile(4).over(rW).cast("long").as("r_q"),
        ntile(4).over(fW).cast("long").as("f_q"),
        ntile(4).over(mW).cast("long").as("m_q"))
  }

  /** A/B readout: Welch z-test on purchase value between hash-assigned
    * experiment arms (arm = user_id mod 2). Per-arm moments (n, Σv, Σv²) are
    * exact integers over milli-fixed values (the ev_anomaly device), so the
    * z statistic is one fixed IEEE op chain from identical integers in both
    * engines — micro-rounded, with an empty-arm guard and a zero-variance
    * guard (z = 0: no detectable difference, also the correct answer; an
    * empty arm otherwise NULL-poisons the division chain under non-ANSI and
    * raises under ANSI). |z| >= 1.96 flags 5% two-sided significance.
    *
    * Scale shape: one map-side projection + one 2-group moment aggregate
    * (map-side combinable); the test itself is arithmetic over 6 integers. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).filter(col("event_type") === "purchase")
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        round(col("value") * 1000).cast("long").as("mv"))
    val c = e.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("mv")).otherwise(0L)).as("s_a"),
      sum(when(col("arm") === 0, col("mv") * col("mv")).otherwise(0L)).as("q_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("mv")).otherwise(0L)).as("s_b"),
      sum(when(col("arm") === 1, col("mv") * col("mv")).otherwise(0L)).as("q_b"))
    val mA = col("s_a").cast("double") / col("n_a")
    val mB = col("s_b").cast("double") / col("n_b")
    val vA = col("q_a").cast("double") / col("n_a") - mA * mA
    val vB = col("q_b").cast("double") / col("n_b") - mB * mB
    val se2 = vA / col("n_a") + vB / col("n_b")
    c.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
      when(col("n_a") === 0 || col("n_b") === 0, 0L)
        .when(se2 <= 0, 0L)
        .otherwise(round((mA - mB) / sqrt(se2) * 1e6).cast("long")).as("z_micro"))
      .withColumn("significant", abs(col("z_micro")) >= 1960000L)
  }

  /** First-order event-type transition matrix (the per-user behavioral
    * Markov model: which event follows which, and with what probability).
    * Successor pairs come from ONE lead() window pass over the user-keyed
    * stream ordered by the TOTAL key (ts, event_id) — equal-timestamp rows
    * tie-break deterministically — so the operator costs one hash exchange
    * on user_id plus an in-partition sort; the matrix itself is a
    * |types|²-row aggregate and the row-normalized probability is a window
    * over that tiny frame. Nothing pairwise, no self-join. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val m = events(spark, dir)
      .withColumn("next", lead(col("event_type"), 1).over(w))
      .filter(col("next").isNotNull)
      .groupBy(col("event_type").as("prev"), col("next"))
      .agg(count(lit(1)).as("cnt"))
    val rows = org.apache.spark.sql.expressions.Window.partitionBy("prev")
    m.select(col("prev"), col("next"), col("cnt"),
      round(col("cnt") / sum("cnt").over(rows), 4).as("prob"))
  }
}
