package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time analytics over the `events` table — the batch mirror of the
  * reference's metrics surface (SURVEY §2.4 A1-A4, §2.9 T5): request
  * rates, latency quantiles, histogram buckets, gauges, sessionization.
  * The streaming versions of the same semantics live in
  * [[graft.streaming.EventPipelines]]; these batch forms are the
  * oracle-checkable ground truth.
  *
  * events.ts is nanosecond-precision; Spark reads it as epoch-nanos
  * (Tables.events exposes µs-truncated `ts`), DuckDB reads TIMESTAMP_NS
  * natively — so every oracle goes through epoch_ns / date_trunc to stay
  * precision-agnostic.
  */
object Events {

  /** A1/A2 + §2.5 analog: per-minute event rate by type
    * (`rate(incoming_requests[1m])`, metrics.rs:16-17 + the Grafana
    * "Incoming Request Rate" panel). */
  val qRate1m = QueryDef.sql(
    "q_events_rate_1m",
    """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
      |       event_type,
      |       count(*) AS n,
      |       round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY minute, event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy(
        date_format(date_trunc("minute", $"ts"), "yyyy-MM-dd HH:mm")
          .as("minute"),
        $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"minute", $"event_type")
  }

  /** A4: latency quantiles per event type — exact interpolated
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`). */
  val qPercentiles = QueryDef.sql(
    "q_events_percentiles",
    """SELECT event_type,
      |       round(quantile_cont(value, 0.50), 2) AS p50,
      |       round(quantile_cont(value, 0.95), 2) AS p95,
      |       round(quantile_cont(value, 0.99), 2) AS p99
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy($"event_type")
      .agg(
        round(expr("percentile(value, 0.50)"), 2).as("p50"),
        round(expr("percentile(value, 0.95)"), 2).as("p95"),
        round(expr("percentile(value, 0.99)"), 2).as("p99"))
      .orderBy($"event_type")
  }

  /** A4 histogram: fixed-width value buckets (the Prometheus
    * `response_time_bucket` analog, metrics.rs:25-26). */
  val qHistogram = QueryDef.sql(
    "q_events_histogram",
    """SELECT event_type,
      |       CAST(floor(value / 50) AS INT) AS bucket,
      |       count(*) AS n
      |FROM events
      |GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy($"event_type", floor($"value" / 50).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"event_type", $"bucket")
  }

  /** A3 gauge analog: running connected-clients level — cumulative
    * (+1 for signup, -1 for error) in event order over time. */
  val qGauge = QueryDef.sql(
    "q_events_gauge",
    """SELECT event_id,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE -1 END)
      |         OVER (ORDER BY epoch_us(ts), event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS gauge_level
      |FROM events
      |WHERE event_type IN ('signup', 'error')
      |ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // Two-phase prefix sum: a bare Window.orderBy would funnel EVERY event
    // through one task (the distributed-systems equivalent of a collect).
    // Instead: partition by day bucket → intra-day running sum (parallel),
    // then add inter-day offsets computed by a window over the per-day
    // TOTALS (rows = #days, so its single-partition exchange carries
    // aggregate-sized data only). Day bucket is monotone in ts, so
    // (bucket, ts, event_id) ordering == global (ts, event_id) ordering.
    // Order at µs + event_id on BOTH sides: DuckDB's ts is µs-truncated,
    // so ordering by Spark's ts_ns would break ties by nanos while the
    // oracle breaks them by event_id.
    val deltas = Tables
      .events(s, d)
      .filter($"event_type".isin("signup", "error"))
      .select(
        $"event_id",
        expr("ts_ns div 1000").as("ts_us"),
        expr("ts_ns div 86400000000000").as("bucket"),
        when($"event_type" === "signup", 1L).otherwise(-1L).as("delta"))
    val intraW = Window
      .partitionBy($"bucket")
      .orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // inter-day offsets via a broadcast triangular self-join over the
    // per-day TOTALS (rows = #days): same prefix sum as a global window
    // over the totals, but with no single-partition WindowExec — nothing
    // in the plan ever funnels through one task, and the log no longer
    // carries the "No Partition Defined" warning that reads as a scale
    // bug. O(days²) join work is trivial at aggregate cardinality.
    val totals = deltas.groupBy($"bucket").agg(sum($"delta").as("btotal"))
    val prior = totals
      .select($"bucket".as("pbucket"), $"btotal".as("ptotal"))
    val offsets = totals
      .join(broadcast(prior), $"pbucket" < $"bucket", "left")
      .groupBy($"bucket")
      .agg(coalesce(sum($"ptotal"), lit(0L)).as("off"))
    deltas
      .withColumn("intra", sum($"delta").over(intraW))
      .join(broadcast(offsets), "bucket")
      .select($"event_id", ($"intra" + $"off").cast("long").as("gauge_level"))
      .orderBy($"event_id")
  }

  /** Sessionization: 30-minute-gap sessions per user (lag + cumulative
    * boundary sum — the batch form of a session window). */
  val qSessionize = QueryDef.sql(
    "q_events_sessionize",
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1, epoch_ns(ts))
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 1800000000000 THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id,
      |       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
      |       count(*) AS n_events
      |FROM sessions
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    val cum = Window
      .partitionBy($"user_id")
      .orderBy($"ts_ns", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(s, d)
      .withColumn(
        "new_session",
        when(
          $"ts_ns" - lag($"ts_ns", 1, null).over(byUser) > 1800000000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(cum))
      .groupBy($"user_id")
      .agg(
        countDistinct($"session_id").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** F5 analog: epoch ↔ timestamp conversions round-trip
    * (filesystem.rs:176-197 time conversions, incl. sub-second parts).
    * µs granularity: Spark keeps the parquet file's full nanos (via
    * nanosAsLong) but DuckDB truncates TIMESTAMP_NS to µs on read, so µs
    * is the finest oracle-comparable unit. */
  val qTimeConv = QueryDef.sql(
    "q_events_time_conv",
    """SELECT event_id,
      |       epoch_us(ts) AS ts_us,
      |       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_sec,
      |       CAST(epoch_us(ts) % 1000000 AS BIGINT)  AS subsec_micros,
      |       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS iso_sec
      |FROM events
      |WHERE event_id < 100
      |ORDER BY event_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .filter($"event_id" < 100)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(
        $"event_id",
        $"ts_us",
        expr("ts_us div 1000000").as("epoch_sec"),
        ($"ts_us" % 1000000L).cast("long").as("subsec_micros"),
        date_format(date_trunc("second", $"ts"), "yyyy-MM-dd HH:mm:ss")
          .as("iso_sec"))
      .orderBy($"event_id")
  }

  /** A4 via the custom [[graft.plans.HistogramAgg]] typed imperative
    * aggregate — must produce exactly the rows of the plain GROUP BY
    * histogram (the oracle), proving the sketch's update/merge/eval
    * path under real partitioned execution. */
  val qHistogramSketch = QueryDef.sql(
    "q_events_histogram_sketch",
    """SELECT event_type,
      |       CAST(floor(value / 50) AS INT) AS bucket,
      |       count(*) AS n
      |FROM events
      |GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy($"event_type")
      .agg(graft.plans.HistogramAgg.histogramAgg($"value", 50.0).as("hist"))
      .select($"event_type", explode($"hist").as(Seq("bucket", "n")))
      .orderBy($"event_type", $"bucket")
  }

  /** A6: registry gather/merge — Prometheus `REGISTRY.gather()` encodes
    * every metric family (counter vecs, gauges, histogram buckets) into
    * one exposition payload (metrics.rs:59,85). The analytic form: one
    * long-format relation (family, metric, label, value) unioning the
    * counter, gauge, and histogram families computed from the same event
    * stream — the merge across partial states is exactly the partial+final
    * aggregation Spark already proves per family. */
  val qMetricsRegistry = QueryDef.sql(
    "q_metrics_registry",
    """SELECT family, metric, label, value FROM (
      |  SELECT 'counter' AS family, 'incoming_requests_total' AS metric,
      |         event_type AS label, CAST(count(*) AS DOUBLE) AS value
      |  FROM events GROUP BY event_type
      |  UNION ALL
      |  SELECT 'gauge', 'connected_clients', '_global',
      |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1
      |                       WHEN event_type = 'error' THEN -1 END) AS DOUBLE)
      |  FROM events WHERE event_type IN ('signup', 'error')
      |  UNION ALL
      |  SELECT 'histogram', 'response_time_bucket',
      |         event_type || '|le=' || CAST(CAST(floor(value / 50) AS INT) AS VARCHAR),
      |         CAST(count(*) AS DOUBLE)
      |  FROM events GROUP BY event_type, floor(value / 50))
      |ORDER BY family, metric, label""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // ONE scan + ONE event-row shuffle: the finest grouping (event_type,
    // bucket) carries both the histogram counts and the gauge deltas;
    // coarser families re-aggregate the tiny grouped result (|types| ×
    // |buckets| rows), so a 100 TB metrics export is a single pass — a
    // naive per-family union would scan the events three times.
    val base = Tables
      .events(s, d)
      .groupBy($"event_type", floor($"value" / 50).cast("int").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(when($"event_type" === "signup", 1L)
          .when($"event_type" === "error", -1L)).as("gdelta"))
      .localCheckpoint(true) // aggregate-sized; reused by all 3 families
    val counters = base
      .groupBy($"event_type")
      .agg(sum($"n").cast("double").as("value"))
      .select(lit("counter").as("family"),
        lit("incoming_requests_total").as("metric"),
        $"event_type".as("label"), $"value")
    val gauges = base
      .agg(sum($"gdelta").cast("double").as("value"))
      .select(lit("gauge").as("family"), lit("connected_clients").as("metric"),
        lit("_global").as("label"), $"value")
    val hist = base
      .select(lit("histogram").as("family"),
        lit("response_time_bucket").as("metric"),
        concat($"event_type", lit("|le="), $"bucket").as("label"),
        $"n".cast("double").as("value"))
    counters.unionByName(gauges).unionByName(hist)
      .orderBy($"family", $"metric", $"label")
  }

  /** Z-score anomaly detection: per-type mean/stddev via a partition
    * window (one shuffle on the type key), flagging |z| > 3 on the
    * ROUNDED score so an ulp of cross-engine stddev difference cannot
    * flip a boundary event. The alerting-rule analog of the reference's
    * Grafana threshold panels — as a relational dataflow. */
  val qAnomaly = QueryDef.sql(
    "q_events_anomaly",
    """WITH scored AS (
      |  SELECT event_id, event_type, value,
      |         round((value - avg(value) OVER (PARTITION BY event_type))
      |               / stddev_samp(value) OVER (PARTITION BY event_type),
      |               4) AS z
      |  FROM events)
      |SELECT event_id, event_type, round(value, 4) AS value, z
      |FROM scored
      |WHERE abs(z) > 3
      |ORDER BY event_type, event_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"event_type")
    Tables
      .events(s, d)
      .select(
        $"event_id", $"event_type", $"value",
        round(($"value" - avg($"value").over(w)) /
          stddev_samp($"value").over(w), 4).as("z"))
      .filter(abs($"z") > 3)
      .select($"event_id", $"event_type", round($"value", 4).as("value"), $"z")
      .orderBy($"event_type", $"event_id")
  }

  /** Ordered conversion funnel view → click → purchase: per user, the
    * first view, the first click strictly after it, the first purchase
    * strictly after that; one output row with the user count surviving
    * each step and the step-to-step conversion rates. Strict ordering is
    * the point — a purchase before any click does NOT count, which is
    * what separates a funnel from three filters.
    *
    * Scale (100 TB): each step is a user_id-keyed conditional-min
    * aggregate (map-side combinable) joined to the next step's events on
    * the SAME user_id key — AQE reuses the exchange partitioning; no
    * windows, state per user is three longs. */
  val qFunnel = QueryDef.sql(
    "q_events_funnel",
    """WITH s1 AS (
      |  SELECT user_id, min(epoch_ns(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
      |  GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM s1) AS viewed,
      |       (SELECT count(*) FROM s2) AS clicked,
      |       (SELECT count(*) FROM s3) AS purchased,
      |       round((SELECT count(*) FROM s2) * 1.0
      |             / (SELECT count(*) FROM s1), 4) AS view_to_click,
      |       round((SELECT count(*) FROM s3) * 1.0
      |             / greatest((SELECT count(*) FROM s2), 1), 4) AS click_to_purchase""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"event_type", $"ts_ns")
    val s1 = ev
      .filter($"event_type" === "view")
      .groupBy($"user_id")
      .agg(min($"ts_ns").as("t1"))
    val s2 = ev
      .filter($"event_type" === "click")
      .join(s1, "user_id")
      .filter($"ts_ns" > $"t1")
      .groupBy($"user_id")
      .agg(min($"ts_ns").as("t2"))
    val s3 = ev
      .filter($"event_type" === "purchase")
      .join(s2, "user_id")
      .filter($"ts_ns" > $"t2")
      .groupBy($"user_id")
      .agg(min($"ts_ns").as("t3"))
    val c1 = s1.agg(count(lit(1)).as("viewed"))
    val c2 = s2.agg(count(lit(1)).as("clicked"))
    val c3 = s3.agg(count(lit(1)).as("purchased"))
    c1.crossJoin(c2)
      .crossJoin(c3)
      .select(
        $"viewed",
        $"clicked",
        $"purchased",
        round($"clicked" * lit(1.0) / $"viewed", 4).as("view_to_click"),
        round($"purchased" * lit(1.0) / greatest($"clicked", lit(1L)), 4)
          .as("click_to_purchase"))
  }

  /** Weekly cohort retention: users bucketed by first-seen epoch-week,
    * counted distinct per (cohort_week, weeks-since-cohort) — the
    * engagement decay matrix every events product reads. Integer
    * epoch-day/week arithmetic on ts_ns (no calendar/timezone surface).
    *
    * Scale: first-seen is a user-keyed min; activity days dedupe to
    * (user, day) before the cohort join (bounding the join at
    * users × active-days); output is cohorts × offsets, aggregate-sized. */
  val qCohortRetention = QueryDef.sql(
    "q_cohort_retention",
    """WITH act AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |first AS (
      |  SELECT user_id, min(day) AS day0 FROM act GROUP BY user_id)
      |SELECT first.day0 // 7 AS cohort_week,
      |       (act.day - first.day0) // 7 AS offset_weeks,
      |       CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
      |FROM act JOIN first ON act.user_id = first.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, offset_weeks""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val act = Tables
      .events(s, d)
      // integer DIV: epoch-nanos exceed 2^53, double division drops ulps
      .select($"user_id", expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val first = act.groupBy($"user_id").agg(min($"day").as("day0"))
    act
      .join(first, "user_id")
      .groupBy(
        ($"day0" / 7).cast("long").as("cohort_week"),
        (($"day" - $"day0") / 7).cast("long").as("offset_weeks"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"offset_weeks")
  }

  /** Gap-filled per-minute rate series: a dense minute spine per
    * event_type (observed min..max), raw counts where events exist, and
    * a forward-filled value over the gaps — the resample + LOCF pass a
    * metrics store runs before rendering or joining sparse series.
    *
    * Scale (100 TB): counts aggregate map-side; the spine is generated
    * from a per-type 2-row bound (broadcast) — never materialized on the
    * driver; the fill window partitions by event_type, so state per
    * partition is one running value and no global ordering exists
    * anywhere. Output is types × minutes (time-bounded), not event-
    * bounded. */
  val qGapFill = QueryDef.sql(
    "q_events_gap_fill",
    """WITH rate AS (
      |  SELECT event_type, epoch_ns(ts) // 60000000000 AS m, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT event_type, min(m) AS lo, max(m) AS hi
      |  FROM rate GROUP BY event_type),
      |spine AS (
      |  SELECT event_type, unnest(range(lo, hi + 1)) AS m FROM bounds)
      |SELECT s.event_type, s.m AS minute,
      |       coalesce(r.cnt, 0) AS cnt_raw,
      |       CASE WHEN r.cnt IS NULL THEN 1 ELSE 0 END AS filled,
      |       last_value(r.cnt IGNORE NULLS) OVER (
      |         PARTITION BY s.event_type ORDER BY s.m
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_locf
      |FROM spine s LEFT JOIN rate r
      |  ON s.event_type = r.event_type AND s.m = r.m
      |ORDER BY s.event_type, minute""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val rate = Tables
      .events(s, d)
      .groupBy($"event_type", expr("ts_ns div 60000000000").as("m"))
      .agg(count(lit(1)).as("cnt"))
    val spine = rate
      .groupBy($"event_type")
      .agg(min($"m").as("lo"), max($"m").as("hi"))
      .select($"event_type", explode(sequence($"lo", $"hi")).as("m"))
    val w = Window
      .partitionBy($"event_type")
      .orderBy($"m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(rate, Seq("event_type", "m"), "left")
      .select(
        $"event_type",
        $"m".as("minute"),
        coalesce($"cnt", lit(0L)).as("cnt_raw"),
        when($"cnt".isNull, 1).otherwise(0).as("filled"),
        last($"cnt", ignoreNulls = true).over(w).as("cnt_locf"))
      .orderBy($"event_type", $"minute")
  }

  /** EWMA smoothing constant and window depth (24 finite terms). */
  private val EwmaAlpha = 0.3
  private val EwmaDepth = 24

  /** Finite-window EWMA forecast + residual anomaly screen: per event
    * type and HOUR, the exponentially-weighted mean of the previous 24
    * hourly means (weights α(1-α)^j, renormalized over the lags that
    * exist — the truncated-EWMA smoother, numerically safe at any
    * series length where the recursive closed form overflows) is the
    * forecast; an hour whose mean deviates > 30% from its forecast is
    * flagged. The per-window arithmetic is 24 generated lag terms with
    * LITERAL weights — one window pass per event type, weights folded
    * into codegen, identical term order in both dialects.
    *
    * Scale: hourly rollup first (corpus → O(types·hours) rows in one
    * count-shuffle), so the window runs over series rows, never events.
    * The lag window partitions by event_type — each series smooths
    * independently across the cluster. */
  val qEwmaForecast = QueryDef.sql(
    "q_ewma_forecast", {
      val terms = (0 until EwmaDepth)
        .map { j =>
          val w = EwmaAlpha * math.pow(1.0 - EwmaAlpha, j)
          (s"$w * coalesce(lag(x, ${j + 1}) OVER win, 0.0)",
            s"CASE WHEN lag(x, ${j + 1}) OVER win IS NULL THEN 0.0 ELSE $w END")
        }
      s"""WITH hourly AS (
         |  -- fixture values are exact 2-decimal reals, so the hourly mean
         |  -- often lands EXACTLY on a rounding boundary; float-sum order
         |  -- would make round() a per-engine coin flip. Sum exact integer
         |  -- cents instead: one deterministic division per row.
         |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
         |         sum(CAST(round(value * 100) AS BIGINT))
         |           / (count(*) * 100.0) AS x
         |  FROM events GROUP BY 1, 2),
         |sm AS (
         |  SELECT event_type, h, x,
         |         ${terms.map(_._1).mkString(" + ")} AS num,
         |         ${terms.map(_._2).mkString(" + ")} AS den
         |  FROM hourly
         |  WINDOW win AS (PARTITION BY event_type ORDER BY h))
         |SELECT event_type, CAST(h AS BIGINT) AS hour,
         |       floor(x * 10000 + 0.5) / 10000.0 AS value,
         |       floor(num / den * 10000 + 0.5) / 10000.0 AS forecast,
         |       (abs(x - floor(num / den * 10000 + 0.5) / 10000.0)
         |          / (floor(num / den * 10000 + 0.5) / 10000.0) > 0.3)
         |         AS is_anomaly
         |FROM sm WHERE den > 0
         |ORDER BY event_type, hour""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val hourly = Tables
      .events(s, d)
      .groupBy($"event_type", expr("ts_ns div 3600000000000").as("h"))
      .agg((sum(round($"value" * 100, 0).cast("long")) /
        (count(lit(1)) * lit(100.0))).as("x"))
    val win = Window.partitionBy($"event_type").orderBy($"h")
    val num = (0 until EwmaDepth)
      .map { j =>
        val w = EwmaAlpha * math.pow(1.0 - EwmaAlpha, j)
        lit(w) * coalesce(lag($"x", j + 1).over(win), lit(0.0))
      }
      .reduce(_ + _)
    val den = (0 until EwmaDepth)
      .map { j =>
        val w = EwmaAlpha * math.pow(1.0 - EwmaAlpha, j)
        when(lag($"x", j + 1).over(win).isNull, lit(0.0)).otherwise(lit(w))
      }
      .reduce(_ + _)
    hourly
      .select($"event_type", $"h", $"x", num.as("num"), den.as("den"))
      .filter($"den" > 0)
      .select(
        $"event_type", $"h".cast("long").as("hour"),
        // tie-safe floor(x*10^4 + 0.5) rounding: the cents-exact means
        // land ON .00005 boundaries, where Spark's round (HALF_UP on the
        // shortest decimal repr) and DuckDB's (binary-value) disagree
        (floor($"x" * 10000 + 0.5) / 10000.0).as("value"),
        (floor($"num" / $"den" * 10000 + 0.5) / 10000.0).as("forecast"),
        (abs($"x" - floor($"num" / $"den" * 10000 + 0.5) / 10000.0) /
          (floor($"num" / $"den" * 10000 + 0.5) / 10000.0) > 0.3)
          .as("is_anomaly"))
      .orderBy($"event_type", $"hour")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next = b | current = a), with each user's events ordered by
    * (time, id). The behavioral-model view of the event log — funnel
    * steps, loops, and dead-ends in one relation (row counts bounded by
    * |event types|²).
    *
    * Scale: one window pass partitioned by user (sequences parallelize
    * per user), then a count-shuffle on the (from, to) pair — the same
    * shape as the sessionizer. Probabilities use the tie-safe
    * floor-rounding convention. */
  val qEventTransitions = QueryDef.sql(
    "q_event_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type AS a,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY epoch_ns(ts), event_id) AS b
      |  FROM events),
      |pairs AS (
      |  SELECT a, b, count(*) AS n FROM seq WHERE b IS NOT NULL
      |  GROUP BY a, b),
      |tot AS (SELECT a, sum(n) AS na FROM pairs GROUP BY a)
      |SELECT p.a AS from_type, p.b AS to_type,
      |       CAST(p.n AS BIGINT) AS n,
      |       floor(p.n * 1000000.0 / t.na + 0.5) / 1000000.0 AS prob
      |FROM pairs p JOIN tot t ON p.a = t.a
      |ORDER BY from_type, to_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    val pairs = Tables
      .events(s, d)
      .select($"user_id", $"event_type".as("a"),
        lead($"event_type", 1).over(w).as("b"))
      .filter($"b".isNotNull)
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy($"a").agg(sum($"n").as("na"))
    pairs
      .join(broadcast(tot), "a")
      .select($"a".as("from_type"), $"b".as("to_type"), $"n",
        (floor($"n" * lit(1000000.0) / $"na" + 0.5) / 1000000.0).as("prob"))
      .orderBy($"from_type", $"to_type")
  }

  /** DDSketch gamma: 1.02 → 2% relative-error quantile guarantee. */
  private val DdGamma = 1.02

  /** Log-bucketed quantile sketch (DDSketch, Masson et al. 2019, "DDSketch:
    * a fast and fully-mergeable quantile sketch with relative-error
    * guarantees"): bucket i holds values in (γ^(i-1), γ^i], the quantile
    * estimate is the bucket midpoint 2γ^i/(γ+1), and the error is
    * RELATIVE (2%) at every quantile — the property that makes it the
    * latency-tail sketch (a fixed-width histogram's error explodes in
    * the tail). Per event type: estimated p50/p95/p99 from the bucket
    * counts beside the exact percentiles, plus the realized relative
    * errors — the audit that proves the guarantee holds.
    *
    * Scale: the sketch is a (type, bucket)-count aggregate — map-side
    * combinable, ≤ ~1200 buckets per type at any corpus size, fully
    * mergeable across partitions/days. Bucket index computed as
    * ceil(round(ln v/ln γ, 8)) — the 8-decimal round absorbs libm ulp
    * differences between engines at bucket boundaries. */
  val qEventsDdsketch = QueryDef.sql(
    "q_events_ddsketch",
    s"""WITH b AS (
       |  SELECT event_type,
       |         CAST(ceil(round(ln(value) / ${math.log(DdGamma)}, 8))
       |              AS BIGINT) AS bk,
       |         count(*) AS c
       |  FROM events WHERE value > 0 GROUP BY 1, 2),
       |n AS (SELECT event_type, sum(c) AS n FROM b GROUP BY event_type),
       |cum AS (
       |  SELECT b.event_type, b.bk, b.c, n.n,
       |         sum(b.c) OVER (PARTITION BY b.event_type ORDER BY b.bk) AS cc
       |  FROM b JOIN n ON n.event_type = b.event_type),
       |est AS (
       |  SELECT event_type,
       |         min(CASE WHEN cc >= ceil(0.50 * n) THEN bk END) AS b50,
       |         min(CASE WHEN cc >= ceil(0.95 * n) THEN bk END) AS b95,
       |         min(CASE WHEN cc >= ceil(0.99 * n) THEN bk END) AS b99
       |  FROM cum GROUP BY event_type),
       |ex AS (
       |  SELECT event_type,
       |         quantile_cont(value, 0.50) AS e50,
       |         quantile_cont(value, 0.95) AS e95,
       |         quantile_cont(value, 0.99) AS e99
       |  FROM events WHERE value > 0 GROUP BY event_type)
       |SELECT est.event_type AS event_type,
       |       round(2 * pow($DdGamma, b50) / ${DdGamma + 1.0}, 4) AS p50_est,
       |       round(2 * pow($DdGamma, b95) / ${DdGamma + 1.0}, 4) AS p95_est,
       |       round(2 * pow($DdGamma, b99) / ${DdGamma + 1.0}, 4) AS p99_est,
       |       round(e50, 4) AS p50_exact,
       |       round(abs(2 * pow($DdGamma, b50) / ${DdGamma + 1.0} - e50)
       |             / e50, 4) AS rel_err_p50,
       |       round(abs(2 * pow($DdGamma, b99) / ${DdGamma + 1.0} - e99)
       |             / e99, 4) AS rel_err_p99
       |FROM est JOIN ex ON ex.event_type = est.event_type
       |ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val lnG = math.log(DdGamma)
    val ev = Tables.events(s, d).filter($"value" > 0)
    val b = ev
      .groupBy($"event_type",
        ceil(round(log($"value") / lnG, 8)).cast("long").as("bk"))
      .agg(count(lit(1)).as("c"))
    val n = b.groupBy($"event_type").agg(sum($"c").as("n"))
    val wCum = Window.partitionBy($"event_type").orderBy($"bk")
    val cum = b
      .join(broadcast(n), "event_type")
      .withColumn("cc", sum($"c").over(wCum))
    val est = cum
      .groupBy($"event_type")
      .agg(
        min(when($"cc" >= ceil(lit(0.50) * $"n"), $"bk")).as("b50"),
        min(when($"cc" >= ceil(lit(0.95) * $"n"), $"bk")).as("b95"),
        min(when($"cc" >= ceil(lit(0.99) * $"n"), $"bk")).as("b99"))
    val ex = ev
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.50)").as("e50"),
        expr("percentile(value, 0.95)").as("e95"),
        expr("percentile(value, 0.99)").as("e99"))
    def mid(bk: org.apache.spark.sql.Column) =
      lit(2.0) * pow(lit(DdGamma), bk) / lit(DdGamma + 1.0)
    est
      .join(ex, "event_type")
      .select(
        $"event_type",
        round(mid($"b50"), 4).as("p50_est"),
        round(mid($"b95"), 4).as("p95_est"),
        round(mid($"b99"), 4).as("p99_est"),
        round($"e50", 4).as("p50_exact"),
        round(abs(mid($"b50") - $"e50") / $"e50", 4).as("rel_err_p50"),
        round(abs(mid($"b99") - $"e99") / $"e99", 4).as("rel_err_p99"))
      .orderBy($"event_type")
  }

  /** KMV size for the rolling-distinct sketch. */
  private val RollK = 64

  /** Rolling 7-day distinct users per event type — the WAU metric —
    * computed two ways: the EXACT rolling count (a 7× re-aggregation of
    * the user stream: the thing that does not scale), and the estimate
    * from MERGING seven per-day KMV sketches (union of k-min sets ⊇ the
    * union's k-min set, so the merged sketch is exactly the sketch of
    * the union — the mergeability that makes sliding windows, backfill,
    * and cross-shard rollup O(k) instead of O(users)). The realized
    * error column audits the estimate against the exact value.
    *
    * Scale: the per-day sketch aggregate is map-side combinable and the
    * rolling merge is a window over O(days) rows of k-long arrays; only
    * the audit's exact branch re-shuffles users, and a production job
    * simply drops it. Windows are over observed days per type. */
  val qRollingDistinct = QueryDef.sql(
    "q_rolling_distinct",
    s"""WITH ue AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
       |         CAST(concat('0x', substr(md5('u|' || user_id), 1, 15))
       |              AS BIGINT) AS h,
       |         user_id
       |  FROM events),
       |daily AS (
       |  SELECT event_type, day,
       |         (list_sort(list(DISTINCT h)))[:$RollK] AS sk
       |  FROM ue GROUP BY event_type, day),
       |rolled AS (
       |  SELECT event_type, day,
       |         (list_sort(list_distinct(flatten(
       |            list(sk) OVER (PARTITION BY event_type ORDER BY day
       |                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       |          ))))[:$RollK] AS mg
       |  FROM daily),
       |est AS (
       |  SELECT event_type, day,
       |         CAST(CASE WHEN len(mg) < $RollK THEN len(mg)
       |              ELSE floor(${RollK - 1}.0 *
       |                     (1152921504606846976.0 / mg[$RollK]))
       |              END AS BIGINT) AS est_users
       |  FROM rolled),
       |ex AS (
       |  SELECT d.event_type, d.day, count(DISTINCT e.user_id) AS exact_users
       |  FROM (SELECT DISTINCT event_type, day FROM ue) d
       |  JOIN ue e ON e.event_type = d.event_type
       |           AND e.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY d.event_type, d.day)
       |SELECT est.event_type AS event_type, CAST(est.day AS BIGINT) AS day,
       |       est.est_users, CAST(ex.exact_users AS BIGINT) AS exact_users,
       |       round(abs(est.est_users - ex.exact_users) * 1.0
       |             / ex.exact_users, 4) AS rel_err
       |FROM est JOIN ex ON ex.event_type = est.event_type
       |                AND ex.day = est.day
       |ORDER BY event_type, day""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ue = Tables
      .events(s, d)
      .select($"event_type", expr("ts_ns div 86400000000000").as("day"),
        graft.functions.TextFunctions.stableHash60(concat(lit("u|"), $"user_id")).as("h"), $"user_id")
    val daily = ue
      .groupBy($"event_type", $"day")
      .agg(graft.plans.KmvAgg.kmvSketch($"h", RollK).as("sk"))
    val w = Window
      .partitionBy($"event_type")
      .orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    val est = daily
      .withColumn("mg",
        slice(array_sort(array_distinct(flatten(collect_list($"sk").over(w)))),
          1, RollK))
      .select($"event_type", $"day",
        when(size($"mg") < RollK, size($"mg").cast("long"))
          .otherwise(
            floor(lit((RollK - 1).toDouble) *
              (lit(graft.plans.KmvAgg.M) / element_at($"mg", RollK)))
              .cast("long"))
          .as("est_users"))
    val spine = ue.select($"event_type", $"day").distinct()
      .select($"event_type".as("s_type"), $"day".as("s_day"))
    val exact = spine
      .join(ue,
        $"event_type" === $"s_type" &&
          $"day".between($"s_day" - 6, $"s_day"))
      .groupBy($"s_type", $"s_day")
      .agg(countDistinct($"user_id").as("exact_users"))
    est
      .join(exact, $"event_type" === $"s_type" && $"day" === $"s_day")
      .select($"event_type", $"day".cast("long").as("day"), $"est_users",
        $"exact_users".cast("long").as("exact_users"),
        round(abs($"est_users" - $"exact_users") * lit(1.0) /
          $"exact_users", 4).as("rel_err"))
      .orderBy($"event_type", $"day")
  }

  /** Robust (median/MAD) outlier screen — the companion to [[qAnomaly]]'s
    * mean/stddev z-score: the modified z-score 0.6745·|x−med|/MAD
    * (Iglewicz & Hoaglin 1993, "How to Detect and Handle Outliers")
    * keeps its cut point when the contamination itself inflates the
    * spread, which is exactly when the plain z-score goes blind. Flags
    * |Mᵢ| > 3.5 per event type.
    *
    * Scale: two percentile aggregates per type (med, then MAD over the
    * derived |x−med| stream) — each map-side partial — then a broadcast
    * of the |types|-row model onto the scan. Thresholding happens on the
    * ROUNDED score. */
  val qMadAnomaly = QueryDef.sql(
    "q_events_mad_anomaly",
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type,
      |         any_value(m.med) AS med,
      |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |  FROM events e JOIN med m ON m.event_type = e.event_type
      |  GROUP BY e.event_type)
      |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
      |       floor(0.6745 * abs(e.value - mad.med) / mad.mad * 10000 + 0.5)
      |         / 10000.0 AS mz
      |FROM events e JOIN mad ON mad.event_type = e.event_type
      |WHERE floor(0.6745 * abs(e.value - mad.med) / mad.mad * 10000 + 0.5)
      |        / 10000.0 > 3.5
      |ORDER BY e.event_type, e.event_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val med = ev
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev
      .join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(
        first($"med").as("med"),
        expr("percentile(abs(value - med), 0.5)").as("mad"))
    // tie-safe floor rounding: the modified z lands exactly on 4-decimal
    // boundaries for clean-decimal (value, med, mad) triples, where
    // Spark's shortest-repr HALF_UP and DuckDB's binary round disagree
    val mz = floor(lit(0.6745) * abs($"value" - $"med") / $"mad" *
      10000 + 0.5) / 10000.0
    ev.join(broadcast(mad), "event_type")
      .filter(mz > 3.5)
      .select($"event_id", $"event_type", round($"value", 4).as("value"),
        mz.as("mz"))
      .orderBy($"event_type", $"event_id")
  }

  /** Sliding (hopping) windows in batch: 10-minute windows every 5
    * minutes — each event lands in exactly two overlapping windows, the
    * smoothing view a dashboard rate panel actually renders (tumbling
    * windows jitter at the boundary). Spark's `window(ts, len, slide)`
    * generates the window replicas inside the scan projection; the
    * oracle replicates with the two closed-form window starts. One
    * count-shuffle on (window, type). */
  val qSlidingRate = QueryDef.sql(
    "q_events_sliding_rate",
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 1000 AS us FROM events),
      |w AS (
      |  SELECT event_type,
      |         unnest([us // 300000000 * 300000000 - 300000000,
      |                 us // 300000000 * 300000000]) AS win_start
      |  FROM e)
      |SELECT CAST(win_start AS BIGINT) AS window_start_us, event_type,
      |       count(*) AS n
      |FROM w
      |GROUP BY win_start, event_type
      |ORDER BY window_start_us, event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy(
        window($"ts", "10 minutes", "5 minutes").as("w"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
      // cast: events.ts may read as TIMESTAMP_NTZ (generation-dependent);
      // exact under the UTC session tz, and unix_micros requires TIMESTAMP
      .select(unix_micros($"w.start".cast("timestamp")).as("window_start_us"),
        $"event_type", $"n")
      .orderBy($"window_start_us", $"event_type")
  }

  /** First-touch attribution: each purchase credited to the user's FIRST
    * view inside the preceding 24 hours (the marketing-attribution
    * variant of the as-of join, which credits the LAST touch). Window
    * scoped per purchase via a range self-join on the user key; the
    * min-(ts, id) touch is an aggregate, not a sort. Purchases with no
    * in-window view stay unattributed (left join). */
  val qFirstTouch = QueryDef.sql(
    "q_first_touch_attribution",
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, epoch_ns(ts) AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT event_id AS v_id, user_id, epoch_ns(ts) AS v_ts
      |  FROM events WHERE event_type = 'view'),
      |m1 AS (
      |  SELECT p.p_id, p.user_id, min(v.v_ts) AS ft_ts
      |  FROM p LEFT JOIN v
      |    ON v.user_id = p.user_id
      |   AND v.v_ts < p.p_ts
      |   AND v.v_ts >= p.p_ts - 86400000000000
      |  GROUP BY p.p_id, p.user_id)
      |SELECT m1.p_id, m1.user_id,
      |       CAST(min(v.v_id) AS BIGINT) AS first_view_id,
      |       (m1.ft_ts IS NULL) AS unattributed
      |FROM m1 LEFT JOIN v
      |  ON v.user_id = m1.user_id AND v.v_ts = m1.ft_ts
      |GROUP BY m1.p_id, m1.user_id, m1.ft_ts
      |ORDER BY p_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
    val p = ev
      .filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts_ns".as("p_ts"))
    val v = ev
      .filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("v_user"),
        $"ts_ns".as("v_ts"))
    // two-step min, NOT a packed (ts, id) key: epoch-nanos * anything
    // overflows a long, and DuckDB errors on BIGINT overflow while
    // Spark wraps — the earliest timestamp first, then the min id
    // among views at exactly that timestamp (deterministic tiebreak)
    val m1 = p
      .join(v,
        $"v_user" === $"user_id" && $"v_ts" < $"p_ts" &&
          $"v_ts" >= $"p_ts" - lit(86400000000000L),
        "left")
      .groupBy($"p_id", $"user_id")
      .agg(min($"v_ts").as("ft_ts"))
    m1.join(v, $"v_user" === $"user_id" && $"v_ts" === $"ft_ts", "left")
      .groupBy($"p_id", $"user_id", $"ft_ts")
      .agg(min($"v_id").as("first_view_id"))
      .select($"p_id", $"user_id", $"first_view_id",
        $"ft_ts".isNull.as("unattributed"))
      .orderBy($"p_id")
  }

  /** Hour-of-day seasonal profile + anomaly census — the seasonal
    * companion to the trend screens ([[qEwmaForecast]] EWMA residuals,
    * [[qMadAnomaly]] robust z): per (event_type, hour-of-day), the mean
    * and population-σ of that slot's DAILY counts across the series,
    * and how many days broke the 2σ band. The day×hour×type grid is
    * completed with zeros first (a missing hour IS a signal — skipping
    * empty cells would bias every profile upward).
    *
    * Scale: one count-shuffle to (type, day, hour) cells — everything
    * after runs on the O(types·days·24) aggregate; the grid sides
    * (distinct days, types, 24 hods) are broadcast. Flags compare the
    * ROUNDED z-score so an ulp cannot flip a day across the band. */
  val qSeasonalProfile = QueryDef.sql(
    "q_seasonal_profile",
    """WITH e AS (
      |  SELECT event_type,
      |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |         CAST(hour(ts) AS BIGINT) AS hod
      |  FROM events),
      |c AS (SELECT event_type, day, hod, count(*) AS n FROM e GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT t.event_type, d.day, CAST(h.hod AS BIGINT) AS hod
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN (SELECT DISTINCT day FROM e) d
      |  CROSS JOIN (SELECT unnest(range(24)) AS hod) h),
      |f AS (
      |  SELECT g.event_type, g.day, g.hod, coalesce(c.n, 0) AS n
      |  FROM grid g LEFT JOIN c
      |    ON c.event_type = g.event_type AND c.day = g.day AND c.hod = g.hod),
      |prof AS (
      |  SELECT event_type, hod, count(*) AS n_days,
      |         avg(n) AS mean_n, stddev_pop(n) AS sd_n
      |  FROM f GROUP BY 1, 2),
      |anom AS (
      |  SELECT f.event_type, f.hod,
      |         sum(CASE WHEN p.sd_n > 0
      |                   AND round(abs(f.n - p.mean_n) / p.sd_n, 4) > 2
      |                  THEN 1 ELSE 0 END) AS n_anom
      |  FROM f JOIN prof p ON p.event_type = f.event_type AND p.hod = f.hod
      |  GROUP BY 1, 2)
      |SELECT p.event_type, p.hod,
      |       CAST(p.n_days AS BIGINT) AS n_days,
      |       round(p.mean_n, 4) AS mean_n,
      |       round(p.sd_n, 4) AS sd_n,
      |       CAST(a.n_anom AS BIGINT) AS n_anomalous
      |FROM prof p JOIN anom a ON a.event_type = p.event_type AND a.hod = p.hod
      |ORDER BY p.event_type, p.hod""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"),
        hour($"ts").cast("long").as("hod"))
    val c = e.groupBy($"event_type", $"day", $"hod")
      .agg(count(lit(1)).as("n"))
    val grid = e.select($"event_type").distinct()
      .crossJoin(broadcast(e.select($"day").distinct()))
      .crossJoin(broadcast(
        s.range(24).select($"id".as("hod"))))
    val f = grid
      .join(c, Seq("event_type", "day", "hod"), "left")
      .select($"event_type", $"day", $"hod",
        coalesce($"n", lit(0L)).as("n"))
    val prof = f.groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n_days"),
        avg($"n").as("mean_n"), stddev_pop($"n").as("sd_n"))
    val anom = f
      .join(broadcast(prof), Seq("event_type", "hod"))
      .groupBy($"event_type", $"hod")
      .agg(sum(
        when($"sd_n" > 0 &&
          round(abs($"n" - $"mean_n") / $"sd_n", 4) > 2, 1L)
          .otherwise(0L)).as("n_anom"))
    prof
      .join(anom, Seq("event_type", "hod"))
      .select($"event_type", $"hod",
        $"n_days".cast("long").as("n_days"),
        round($"mean_n", 4).as("mean_n"),
        round($"sd_n", 4).as("sd_n"),
        $"n_anom".cast("long").as("n_anomalous"))
      .orderBy($"event_type", $"hod")
  }

  /** RFM customer segmentation (Hughes 1994) — the classic marketing
    * triage: per purchasing user, Recency (µs since last purchase,
    * anchored at the corpus-wide latest purchase so the result is
    * replayable), Frequency, and Monetary value, each scored 1–3 by
    * corpus TERTILES (boundaries rounded to 2 decimals before
    * comparison, the curriculum-band convention) and fused into the
    * 'rfm' segment string.
    *
    * Scale: one purchase-filtered scan to a per-user aggregate; the six
    * tertile boundaries + the global anchor are aggregate-sized
    * broadcasts back onto the per-user relation — no global window, no
    * ntile. */
  val qRfmSegments = QueryDef.sql(
    "q_rfm_segments",
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS tus, value
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT user_id, max(tus) AS last_t,
      |             count(*) AS freq, sum(value) AS mon
      |      FROM p GROUP BY 1),
      |g AS (SELECT max(last_t) AS now_t FROM u),
      |u2 AS (SELECT u.*, g.now_t - u.last_t AS rec FROM u CROSS JOIN g),
      |m AS (
      |  SELECT round(quantile_cont(rec, 0.33), 2) AS r33,
      |         round(quantile_cont(rec, 0.67), 2) AS r67,
      |         round(quantile_cont(freq, 0.33), 2) AS f33,
      |         round(quantile_cont(freq, 0.67), 2) AS f67,
      |         round(quantile_cont(mon, 0.33), 2) AS m33,
      |         round(quantile_cont(mon, 0.67), 2) AS m67
      |  FROM u2),
      |sc AS (
      |  SELECT user_id, rec, freq, mon,
      |         CASE WHEN rec <= r33 THEN 3 WHEN rec <= r67 THEN 2
      |              ELSE 1 END AS r_score,
      |         CASE WHEN freq <= f33 THEN 1 WHEN freq <= f67 THEN 2
      |              ELSE 3 END AS f_score,
      |         CASE WHEN mon <= m33 THEN 1 WHEN mon <= m67 THEN 2
      |              ELSE 3 END AS m_score
      |  FROM u2 CROSS JOIN m)
      |SELECT user_id,
      |       round(rec / 86400000000.0, 2) AS recency_days,
      |       CAST(freq AS BIGINT) AS freq,
      |       round(mon, 2) AS monetary,
      |       CAST(r_score AS INT) AS r_score,
      |       CAST(f_score AS INT) AS f_score,
      |       CAST(m_score AS INT) AS m_score,
      |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
      |         || CAST(m_score AS VARCHAR) AS segment
      |FROM sc ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val p = Tables.events(s, d)
      .filter($"event_type" === "purchase")
      .select($"user_id", expr("ts_ns div 1000").as("tus"), $"value")
    val u = p.groupBy($"user_id")
      .agg(max($"tus").as("last_t"), count(lit(1)).as("freq"),
        sum($"value").as("mon"))
    val g = u.agg(max($"last_t").as("now_t"))
    val u2 = u.crossJoin(broadcast(g))
      .withColumn("rec", $"now_t" - $"last_t")
    val m = u2.agg(
      round(expr("percentile(rec, 0.33)"), 2).as("r33"),
      round(expr("percentile(rec, 0.67)"), 2).as("r67"),
      round(expr("percentile(freq, 0.33)"), 2).as("f33"),
      round(expr("percentile(freq, 0.67)"), 2).as("f67"),
      round(expr("percentile(mon, 0.33)"), 2).as("m33"),
      round(expr("percentile(mon, 0.67)"), 2).as("m67"))
    u2.crossJoin(broadcast(m))
      .select($"user_id",
        round($"rec" / 86400000000.0, 2).as("recency_days"),
        $"freq".cast("long").as("freq"),
        round($"mon", 2).as("monetary"),
        when($"rec" <= $"r33", 3).when($"rec" <= $"r67", 2).otherwise(1)
          .cast("int").as("r_score"),
        when($"freq" <= $"f33", 1).when($"freq" <= $"f67", 2).otherwise(3)
          .cast("int").as("f_score"),
        when($"mon" <= $"m33", 1).when($"mon" <= $"m67", 2).otherwise(3)
          .cast("int").as("m_score"))
      .withColumn("segment",
        concat($"r_score".cast("string"), $"f_score".cast("string"),
          $"m_score".cast("string")))
      .orderBy($"user_id")
  }

  /** A/B metric test (Welch 1947 unequal-variance t) — the
    * experimentation primitive: users split into arms by stable-hash
    * parity (the deterministic assignment a real experiment service
    * ships), per-user purchases-per-view ratio as the metric, and the
    * Welch t statistic from per-arm (n, mean, population variance);
    * significance flagged on the ROUNDED |t| so an ulp cannot flip the
    * verdict. The fixture's split is null (one population) — a t near 0
    * IS the correct answer; the machinery is the operator under test.
    *
    * Scale: two aggregate passes (per-user metric → per-arm moments);
    * everything after runs on 2 rows. */
  val qAbTest = QueryDef.sql(
    "q_ab_test",
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(concat('0x', substr(md5('ab|' || CAST(user_id AS VARCHAR)),
      |              1, 15)) AS BIGINT) % 2 AS arm,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS DOUBLE)
      |           / greatest(sum(CASE WHEN event_type = 'view' THEN 1
      |                               ELSE 0 END), 1) AS metric
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT arm, CAST(count(*) AS DOUBLE) AS n,
      |         avg(metric) AS m,
      |         CASE WHEN count(*) > 1 THEN
      |           (avg(metric * metric) - avg(metric) * avg(metric))
      |             * count(*) / (count(*) - 1)
      |         ELSE 0 END AS v
      |  FROM u GROUP BY 1),
      |w AS (
      |  SELECT a0.n AS n0, a0.m AS m0, a0.v AS v0,
      |         a1.n AS n1, a1.m AS m1, a1.v AS v1,
      |         CASE WHEN a0.v / a0.n + a1.v / a1.n > 0
      |              THEN (a0.m - a1.m) / sqrt(a0.v / a0.n + a1.v / a1.n)
      |              ELSE 0 END AS tstat
      |  FROM (SELECT * FROM a WHERE arm = 0) a0
      |  CROSS JOIN (SELECT * FROM a WHERE arm = 1) a1)
      |SELECT CAST(n0 AS BIGINT) AS n_a, round(m0, 4) AS mean_a,
      |       CAST(n1 AS BIGINT) AS n_b, round(m1, 4) AS mean_b,
      |       round(tstat, 4) + 0.0 AS t,
      |       (abs(round(tstat, 4)) > 1.96) AS significant
      |FROM w""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TextFunctions.stableHash60
    val u = Tables.events(s, d)
      .groupBy($"user_id",
        (stableHash60(concat(lit("ab|"), $"user_id".cast("string"))) % 2)
          .as("arm"))
      .agg((sum(when($"event_type" === "purchase", 1).otherwise(0))
        .cast("double") /
        greatest(sum(when($"event_type" === "view", 1).otherwise(0)),
          lit(1))).as("metric"))
    // SAMPLE variance (Bessel n/(n−1), the textbook Welch input — the
    // population form understated v on small arms), a 0-sentinel when
    // both arms are constant (sqrt(0) denominator would otherwise
    // diverge cross-engine as ±Inf/NaN-vs-NULL), and the registry's
    // + 0.0 signed-zero fence on the rounded t — identical in BOTH
    // engine texts.
    val a = u.groupBy($"arm")
      .agg(count(lit(1)).cast("double").as("n"),
        avg($"metric").as("m"),
        when(count(lit(1)) > 1,
          (avg($"metric" * $"metric") - avg($"metric") * avg($"metric"))
            * count(lit(1)) / (count(lit(1)) - 1))
          .otherwise(lit(0.0)).as("v"))
    val a0 = a.filter($"arm" === 0)
      .select($"n".as("n0"), $"m".as("m0"), $"v".as("v0"))
    val a1 = a.filter($"arm" === 1)
      .select($"n".as("n1"), $"m".as("m1"), $"v".as("v1"))
    val se2 = $"v0" / $"n0" + $"v1" / $"n1"
    val t = when(se2 > 0, ($"m0" - $"m1") / sqrt(se2)).otherwise(lit(0.0))
    a0.crossJoin(broadcast(a1))
      .select(
        $"n0".cast("long").as("n_a"), round($"m0", 4).as("mean_a"),
        $"n1".cast("long").as("n_b"), round($"m1", 4).as("mean_b"),
        (round(t, 4) + 0.0).as("t"),
        (abs(round(t, 4)) > 1.96).as("significant"))
  }

  /** Kaplan–Meier survival of user activity lifetimes (Kaplan & Meier
    * 1958): lifetime = days between a user's first and last event; a
    * user still active in the final 3 days of the corpus is CENSORED
    * (their lifetime is a lower bound, so they leave the risk set
    * without counting as a death — dropping them instead would bias
    * survival down). S(t) = Π_{d≤t} (1 − deaths_d/at-risk_d), computed
    * as exp(Σ ln·) with the same expression on both engines.
    *
    * Scale: per-user lifetime aggregate → O(days) day relation; the
    * cumulative product runs as a triangular broadcast join over the
    * day relation (no partition-less window), per the gauge/boundedRank
    * convention. */
  val qKaplanMeier = QueryDef.sql(
    "q_kaplan_meier",
    """WITH life AS (
      |  SELECT user_id,
      |         date_diff('day', min(date_trunc('day', ts)),
      |                   max(date_trunc('day', ts))) AS lifetime,
      |         max(date_trunc('day', ts)) AS last_day
      |  FROM events GROUP BY 1),
      |horizon AS (SELECT max(last_day) AS end_day FROM life),
      |obs AS (
      |  SELECT lifetime,
      |         CASE WHEN date_diff('day', last_day, end_day) >= 3
      |              THEN 1 ELSE 0 END AS died
      |  FROM life CROSS JOIN horizon),
      |days AS (
      |  SELECT lifetime AS t,
      |         CAST(sum(died) AS DOUBLE) AS deaths,
      |         CAST(count(*) - sum(died) AS BIGINT) AS censored
      |  FROM obs GROUP BY 1),
      |risk AS (
      |  SELECT d.t, d.deaths, d.censored,
      |         CAST((SELECT sum(CASE WHEN o.lifetime >= d.t THEN 1 ELSE 0 END)
      |               FROM obs o) AS DOUBLE) AS at_risk
      |  FROM days d),
      |surv AS (
      |  SELECT r.t, r.deaths, r.censored, r.at_risk,
      |         exp((SELECT sum(ln(1 - r2.deaths / r2.at_risk))
      |              FROM risk r2 WHERE r2.t <= r.t AND r2.deaths > 0))
      |           AS s_raw
      |  FROM risk r)
      |SELECT CAST(t AS BIGINT) AS t,
      |       CAST(at_risk AS BIGINT) AS at_risk,
      |       CAST(deaths AS BIGINT) AS deaths,
      |       censored,
      |       round(coalesce(s_raw, 1.0), 4) AS survival
      |FROM surv ORDER BY t""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val life = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(
        datediff(max(date_trunc("day", $"ts")), min(date_trunc("day", $"ts")))
          .cast("long").as("lifetime"),
        max(date_trunc("day", $"ts")).as("last_day"))
    val horizon = life.agg(max($"last_day").as("end_day"))
    val obs = life.crossJoin(broadcast(horizon))
      .select($"lifetime",
        when(datediff($"end_day", $"last_day") >= 3, 1L).otherwise(0L)
          .as("died"))
    val days = obs.groupBy($"lifetime".as("t"))
      .agg(sum($"died").cast("double").as("deaths"),
        (count(lit(1)) - sum($"died")).cast("long").as("censored"))
    val tot = obs.groupBy($"lifetime".as("lt"))
      .agg(count(lit(1)).cast("double").as("n_lt"))
    val atRisk = days
      .join(broadcast(tot), $"lt" >= $"t", "left")
      .groupBy($"t", $"deaths", $"censored")
      .agg(sum($"n_lt").as("at_risk"))
    val steps = atRisk
      .select($"t".as("t2"),
        when($"deaths" > 0, log(lit(1) - $"deaths" / $"at_risk"))
          .as("lnstep"))
    atRisk
      .join(broadcast(steps), $"t2" <= $"t", "left")
      .groupBy($"t", $"deaths", $"censored", $"at_risk")
      .agg(exp(sum($"lnstep")).as("s_raw"))
      .select(
        $"t".cast("long").as("t"),
        $"at_risk".cast("long").as("at_risk"),
        $"deaths".cast("long").as("deaths"),
        $"censored",
        round(coalesce($"s_raw", lit(1.0)), 4).as("survival"))
      .orderBy($"t")
  }

  /** Native session windows — Spark's built-in `session_window(ts, gap)`
    * aggregation (the batch form of the streaming session operator),
    * cross-checked against the lag/cumsum reconstruction the oracle
    * runs: a session closes when the NEXT event is ≥ gap after the
    * previous one (Spark's [start, last+gap) boundary → the oracle's
    * `>=` gap test). Complements `q_events_sessionize` (the manual
    * formulation) by gating the built-in's exact boundary semantics.
    *
    * Scale: one exchange on user_id; sessions merge inside each
    * partition — the same cost as any keyed aggregation. */
  val qSessionWindowNative = QueryDef.sql(
    "q_session_window_native",
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1, epoch_ns(ts))
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              >= 1800000000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, event_id,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(event_id) AS BIGINT) AS first_event
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .select($"user_id", $"ts".cast("timestamp").as("tss"), $"event_id")
      .groupBy($"user_id", session_window($"tss", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), min($"event_id").as("first_event"))
      .select($"user_id",
        date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events", $"first_event".cast("long").as("first_event"))
      .orderBy($"user_id", $"session_start")
  }

  /** CUSUM changepoint detection (Page 1954) — the mean-shift screen
    * beside the point-outlier detectors (z, MAD) and the trend/seasonal
    * ones (EWMA, seasonal profile): per event type, the cumulative sum
    * of daily-count deviations from the series mean; the |CUSUM| peak
    * locates the most likely level-shift day, flagged when the ROUNDED
    * normalized peak |CUSUM|/(σ·√n) exceeds the 1.36 Kolmogorov-style
    * band. A flat series walks like a bridge and stays inside the band
    * — on this fixture un-flagged is the expected answer; the operator
    * is the machinery.
    *
    * Scale: one count-shuffle to O(types·days) cells; the cumulative
    * window partitions by type (parallel across types); means/σ are
    * broadcast per-type aggregates. */
  val qCusumChangepoint = QueryDef.sql(
    "q_cusum_changepoint",
    """WITH daily AS (
      |  SELECT event_type,
      |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |         CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, avg(n) AS mean_n,
      |         stddev_pop(n) AS sd_n, count(*) AS n_days
      |  FROM daily GROUP BY 1),
      |c AS (
      |  SELECT d.event_type, d.day,
      |         sum(d.n - st.mean_n) OVER (PARTITION BY d.event_type
      |           ORDER BY d.day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum,
      |         st.sd_n, st.n_days
      |  FROM daily d JOIN st ON st.event_type = d.event_type),
      |peak AS (
      |  SELECT event_type,
      |         max_by(day, printf('%020.6f', round(abs(cusum), 6))
      |                     || '|' || day) AS cp_day,
      |         max(round(abs(cusum), 6)) AS peak_cusum,
      |         any_value(sd_n) AS sd_n, any_value(n_days) AS n_days
      |  FROM c GROUP BY 1)
      |SELECT event_type, cp_day,
      |       round(peak_cusum, 2) AS peak_cusum,
      |       round(peak_cusum / (sd_n * sqrt(n_days)), 4) AS norm_peak,
      |       (round(peak_cusum / (sd_n * sqrt(n_days)), 4) > 1.36)
      |         AS shifted
      |FROM peak ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val st = daily.groupBy($"event_type")
      .agg(avg($"n").as("mean_n"), stddev_pop($"n").as("sd_n"),
        count(lit(1)).as("n_days"))
    val cum = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = daily
      .join(broadcast(st), "event_type")
      .withColumn("cusum", sum($"n" - $"mean_n").over(cum))
    c.groupBy($"event_type")
      .agg(
        max_by($"day", concat(format_string("%020.6f", round(abs($"cusum"), 6)),
          lit("|"), $"day")).as("cp_day"),
        max(round(abs($"cusum"), 6)).as("peak_cusum"),
        first($"sd_n").as("sd_n"),
        first($"n_days").as("n_days"))
      .select($"event_type", $"cp_day",
        round($"peak_cusum", 2).as("peak_cusum"),
        round($"peak_cusum" / ($"sd_n" * sqrt($"n_days")), 4).as("norm_peak"),
        (round($"peak_cusum" / ($"sd_n" * sqrt($"n_days")), 4) > 1.36)
          .as("shifted"))
      .orderBy($"event_type")
  }

  /** Autocorrelation function (lags 1–7) of the daily count series per
    * event type — the diagnostic read before choosing between the
    * trend (EWMA), seasonal (hour-of-day), and changepoint (CUSUM)
    * screens: a weekly corpus shows its period as an ACF spike at lag
    * 7. ρ_k = Σ(xₜ−x̄)(xₜ₊ₖ−x̄) / Σ(xₜ−x̄)² with the day-index join
    * (not date arithmetic) so gaps cannot misalign lags.
    *
    * Scale: the series is the O(types·days) aggregate; lag alignment is
    * an equi-join on (type, day_idx+k) over it; output O(types·7). */
  val qAcf = QueryDef.sql(
    "q_acf",
    """WITH daily AS (
      |  SELECT event_type,
      |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |         CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, n,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |st AS (
      |  SELECT event_type, avg(n) AS m,
      |         sum(n * n) - sum(n) * sum(n) / count(*) AS ss
      |  FROM idx GROUP BY event_type),
      |lags AS (SELECT unnest(range(1, 8)) AS k),
      |acf AS (
      |  SELECT a.event_type, l.k,
      |         sum((a.n - st.m) * (b.n - st.m)) / any_value(st.ss) AS rho
      |  FROM idx a
      |  CROSS JOIN lags l
      |  JOIN idx b ON b.event_type = a.event_type AND b.i = a.i + l.k
      |  JOIN st ON st.event_type = a.event_type
      |  GROUP BY 1, 2)
      |SELECT event_type, CAST(k AS BIGINT) AS lag,
      |       round(rho, 4) + 0.0 AS rho
      |FROM acf ORDER BY event_type, lag""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val wIdx = Window.partitionBy($"event_type").orderBy($"day")
    val idx = daily
      .withColumn("i", row_number().over(wIdx))
      .select($"event_type", $"n", $"i")
      .localCheckpoint() // O(types·days); reused by moments + both join sides
    val st = idx
      .groupBy($"event_type")
      .agg(avg($"n").as("m"), count(lit(1)).as("cnt"),
        sum($"n" * $"n").as("snn"), sum($"n").as("sn"))
      .select($"event_type", $"m",
        ($"snn" - $"sn" * $"sn" / $"cnt").as("ss"))
    val lags = s.range(1, 8).select($"id".as("k"))
    val a = idx.select($"event_type", $"n".as("na"), $"i".as("ia"))
    val b = idx.select($"event_type".as("et_b"), $"n".as("nb"), $"i".as("ib"))
    a.crossJoin(broadcast(lags))
      .join(b, $"et_b" === $"event_type" && $"ib" === $"ia" + $"k")
      .join(broadcast(st), "event_type")
      .groupBy($"event_type", $"k")
      .agg((sum(($"na" - $"m") * ($"nb" - $"m")) / first($"ss")).as("rho"))
      .select($"event_type", $"k".cast("long").as("lag"),
        (round($"rho", 4) + 0.0).as("rho"))
      .orderBy($"event_type", $"lag")
  }

  /** Mann-Kendall trend test + Theil-Sen slope (Mann 1945, Kendall 1975,
    * Sen 1968) per event type over the daily count series — the
    * nonparametric monotone-trend screen beside [[qCusumChangepoint]]'s
    * level-shift and [[qAcf]]'s periodicity reads: S = Σ_{i<j}
    * sign(x_j − x_i), τ = S/(n(n−1)/2), slope = median of the pairwise
    * slopes (x_j − x_i)/(j − i), Z from the continuity-corrected normal
    * approximation Var(S) = n(n−1)(2n+5)/18 (no tie correction — both
    * engines apply the same formula), trending at |Z| > 1.96.
    *
    * Scale: the pairwise self-join is O(days²) per type on the
    * AGGREGATED daily series — ~n²/2 rows per type-year, never corpus
    * rows; the day-index join keys both sides so gaps cannot skew the
    * slope denominator. */
  val qTrendMk = QueryDef.sql(
    "q_trend_mk",
    """WITH daily AS (
      |  SELECT event_type,
      |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |         CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, n,
      |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |              AS DOUBLE) AS i
      |  FROM daily),
      |pairs AS (
      |  SELECT a.event_type,
      |         sign(b.n - a.n) AS sg,
      |         (b.n - a.n) / (b.i - a.i) AS slope
      |  FROM idx a JOIN idx b
      |    ON b.event_type = a.event_type AND b.i > a.i),
      |nd AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nn
      |       FROM idx GROUP BY 1),
      |st AS (
      |  SELECT p.event_type, sum(p.sg) AS s,
      |         median(p.slope::DOUBLE) AS ts_slope,
      |         any_value(nd.nn) AS nn
      |  FROM pairs p JOIN nd ON nd.event_type = p.event_type
      |  GROUP BY p.event_type),
      |z AS (
      |  SELECT event_type, s, ts_slope, nn,
      |         sqrt(nn * (nn - 1) * (2 * nn + 5) / 18.0) AS sd
      |  FROM st)
      |SELECT event_type,
      |       CAST(nn AS BIGINT) AS n_days,
      |       CAST(s AS BIGINT) AS s_stat,
      |       round(s / (nn * (nn - 1) / 2.0), 4) + 0.0 AS tau,
      |       round(ts_slope, 4) + 0.0 AS theil_sen,
      |       round(CASE WHEN s > 0 THEN (s - 1) / sd
      |                  WHEN s < 0 THEN (s + 1) / sd
      |                  ELSE 0.0 END, 4) + 0.0 AS z,
      |       (abs(CASE WHEN s > 0 THEN (s - 1) / sd
      |                 WHEN s < 0 THEN (s + 1) / sd
      |                 ELSE 0.0 END) > 1.96) AS trending
      |FROM z ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val wIdx = Window.partitionBy($"event_type").orderBy($"day")
    val idx = daily
      .withColumn("i", row_number().over(wIdx).cast("double"))
      .select($"event_type", $"n", $"i")
      .localCheckpoint() // O(types·days); both sides of the pair join
    val b = idx.select($"event_type".as("et_b"), $"n".as("nb"), $"i".as("ib"))
    val pairs = idx
      .join(b, $"et_b" === $"event_type" && $"ib" > $"i")
      .select($"event_type", signum($"nb" - $"n").as("sg"),
        (($"nb" - $"n") / ($"ib" - $"i")).as("slope"))
    val nd = idx.groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("nn"))
    val st = pairs
      .join(broadcast(nd), "event_type")
      .groupBy($"event_type")
      .agg(sum($"sg").as("s"),
        expr("percentile(slope, 0.5)").as("ts_slope"),
        first($"nn").as("nn"))
    val sd = sqrt($"nn" * ($"nn" - 1) * (lit(2) * $"nn" + 5) / 18.0)
    val zc = when($"s" > 0, ($"s" - 1) / sd)
      .when($"s" < 0, ($"s" + 1) / sd)
      .otherwise(0.0)
    st.select(
        $"event_type",
        $"nn".cast("long").as("n_days"),
        $"s".cast("long").as("s_stat"),
        (round($"s" / ($"nn" * ($"nn" - 1) / 2.0), 4) + 0.0).as("tau"),
        (round($"ts_slope", 4) + 0.0).as("theil_sen"),
        (round(zc, 4) + 0.0).as("z"),
        (abs(zc) > 1.96).as("trending"))
      .orderBy($"event_type")
  }

  /** Classical additive seasonal decomposition (the moving-average
    * decomposition underlying STL, Cleveland et al. 1990 §2) of the
    * daily count series per event type: trend = centered 7-observation
    * moving average (full windows only), seasonal = day-of-week mean of
    * the detrended series re-centered to Σ=0, residual = the rest;
    * seasonal strength = max(0, 1 − Var(resid)/Var(detrended))
    * (Hyndman's FTSA measure). Day-of-week is epoch-days mod 7 — no
    * locale-dependent dayofweek() whose numbering differs across
    * engines.
    *
    * Scale: the series is the O(types·days) aggregate; every window is
    * partitioned by type; the dow means and strength are aggregates of
    * aggregates. */
  val qStlSeasonal = QueryDef.sql(
    "q_stl_seasonal",
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS BIGINT) AS d_epoch,
      |         CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, d_epoch, d_epoch % 7 AS dow, n,
      |         avg(n) OVER w AS trend, count(*) OVER w AS wn
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d_epoch
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT event_type, dow, n - trend AS detr
      |  FROM tr WHERE wn = 7),
      |sraw AS (
      |  SELECT event_type, dow, avg(detr) AS sraw, count(*) AS n_days
      |  FROM det GROUP BY 1, 2),
      |sc AS (
      |  SELECT event_type, avg(sraw) AS smean FROM sraw GROUP BY 1),
      |seas AS (
      |  SELECT sraw.event_type, sraw.dow, sraw.n_days,
      |         sraw.sraw - sc.smean AS seasonal
      |  FROM sraw JOIN sc USING (event_type)),
      |res AS (
      |  SELECT det.event_type,
      |         var_pop(det.detr) AS v_det,
      |         var_pop(det.detr - seas.seasonal) AS v_res
      |  FROM det JOIN seas
      |    ON seas.event_type = det.event_type AND seas.dow = det.dow
      |  GROUP BY 1)
      |SELECT seas.event_type, CAST(seas.dow AS BIGINT) AS dow,
      |       CAST(seas.n_days AS BIGINT) AS n_days,
      |       round(seas.seasonal, 4) + 0.0 AS seasonal,
      |       round(greatest(0.0, 1.0 - res.v_res / res.v_det), 4)
      |         + 0.0 AS seasonal_strength
      |FROM seas JOIN res USING (event_type)
      |ORDER BY event_type, dow""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        datediff(date_trunc("day", $"ts").cast("date"), lit("1970-01-01"))
          .cast("long").as("d_epoch"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w7 = Window.partitionBy($"event_type").orderBy($"d_epoch")
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("dow", $"d_epoch" % 7)
      .withColumn("trend", avg($"n").over(w7))
      .withColumn("wn", count(lit(1)).over(w7))
      .filter($"wn" === 7)
      .select($"event_type", $"dow", ($"n" - $"trend").as("detr"))
      .localCheckpoint() // O(types·days); reused by means and variances
    val sraw = det.groupBy($"event_type", $"dow")
      .agg(avg($"detr").as("sraw"), count(lit(1)).as("n_days"))
    val sc = sraw.groupBy($"event_type").agg(avg($"sraw").as("smean"))
    val seas = sraw
      .join(broadcast(sc), "event_type")
      .select($"event_type", $"dow", $"n_days",
        ($"sraw" - $"smean").as("seasonal"))
    val res = det
      .join(broadcast(seas.select($"event_type", $"dow", $"seasonal")),
        Seq("event_type", "dow"))
      .groupBy($"event_type")
      .agg(var_pop($"detr").as("v_det"),
        var_pop($"detr" - $"seasonal").as("v_res"))
    seas
      .join(broadcast(res), "event_type")
      .select($"event_type", $"dow".cast("long").as("dow"),
        $"n_days".cast("long").as("n_days"),
        (round($"seasonal", 4) + 0.0).as("seasonal"),
        (round(greatest(lit(0.0), lit(1.0) - $"v_res" / $"v_det"), 4)
          + 0.0).as("seasonal_strength"))
      .orderBy($"event_type", $"dow")
  }

  /** Two-sample Kolmogorov-Smirnov test on the `value` distributions of
    * two event types: D = sup_x |F₁(x) − F₂(x)| over the pooled
    * distinct values, rejected at α = 0.05 when D > 1.358·√((n₁+n₂)/
    * (n₁·n₂)) (Smirnov's asymptotic critical value). The ECDFs come
    * from the gauge's two-phase prefix sum — intra-bucket running
    * counts under a value-bucket-partitioned window plus triangular
    * broadcast offsets over the per-bucket totals — so no partition-less
    * window ever funnels the pooled values through one task.
    *
    * Scale: the per-distinct-value aggregate is the only corpus-sized
    * shuffle; everything after runs on the distinct-value relation,
    * and the bucket count (value range / 50) bounds each window
    * partition. */
  val qKsTest = QueryDef.sql(
    "q_ks_test",
    """WITH v AS (
      |  SELECT value,
      |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY value),
      |n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM v),
      |b AS (
      |  SELECT value, c1, c2, CAST(floor(value / 50.0) AS BIGINT) AS bk
      |  FROM v),
      |intra AS (
      |  SELECT value, bk,
      |         sum(c1) OVER w AS i1, sum(c2) OVER w AS i2
      |  FROM b
      |  WINDOW w AS (PARTITION BY bk ORDER BY value
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |btot AS (SELECT bk, sum(c1) AS t1, sum(c2) AS t2 FROM b GROUP BY bk),
      |off AS (
      |  SELECT a.bk, coalesce(sum(p.t1), 0) AS o1, coalesce(sum(p.t2), 0) AS o2
      |  FROM btot a LEFT JOIN btot p ON p.bk < a.bk
      |  GROUP BY a.bk),
      |d AS (
      |  SELECT max(abs((intra.i1 + off.o1) * 1.0 / n.n1
      |                 - (intra.i2 + off.o2) * 1.0 / n.n2)) AS d_stat
      |  FROM intra JOIN off USING (bk) CROSS JOIN n)
      |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
      |       round(d.d_stat, 6) AS d_stat,
      |       round(1.358 * sqrt((n.n1 + n.n2) * 1.0 / (n.n1 * n.n2)), 6)
      |         AS d_crit,
      |       (round(d.d_stat, 6)
      |        > round(1.358 * sqrt((n.n1 + n.n2) * 1.0 / (n.n1 * n.n2)), 6))
      |         AS reject
      |FROM d CROSS JOIN n""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val v = Tables.events(s, d)
      .filter($"event_type".isin("click", "view"))
      .groupBy($"value")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
      .withColumn("bk", floor($"value" / 50.0).cast("long"))
      .localCheckpoint() // distinct-value relation; reused by all phases
    val n = v.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val wIntra = Window.partitionBy($"bk").orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = v.select($"value", $"bk",
      sum($"c1").over(wIntra).as("i1"), sum($"c2").over(wIntra).as("i2"))
    val btot = v.groupBy($"bk").agg(sum($"c1").as("t1"), sum($"c2").as("t2"))
    val prior = btot.select($"bk".as("pbk"), $"t1".as("p1"), $"t2".as("p2"))
    val off = btot
      .join(broadcast(prior), $"pbk" < $"bk", "left")
      .groupBy($"bk")
      .agg(coalesce(sum($"p1"), lit(0L)).as("o1"),
        coalesce(sum($"p2"), lit(0L)).as("o2"))
    val dStat = intra
      .join(broadcast(off), "bk")
      .crossJoin(broadcast(n))
      .agg(max(abs(($"i1" + $"o1") * lit(1.0) / $"n1"
        - ($"i2" + $"o2") * lit(1.0) / $"n2")).as("d_stat"))
    val crit = round(lit(1.358) * sqrt(($"n1" + $"n2") * lit(1.0) /
      ($"n1" * $"n2")), 6)
    dStat
      .crossJoin(broadcast(n))
      .select($"n1".cast("long").as("n1"), $"n2".cast("long").as("n2"),
        round($"d_stat", 6).as("d_stat"), crit.as("d_crit"),
        (round($"d_stat", 6) > crit).as("reject"))
  }

  /** Sequential pattern mining (the length-2/3 contiguous-subsequence
    * core of PrefixSpan, Pei et al. 2001): within 30-minute-gap user
    * sessions (same boundary rule as [[qSessionize]]), every adjacent
    * event-type bigram and trigram, with occurrence count, distinct-
    * session support count, and support share; top 15 patterns by
    * session support. The navigation-pattern read a product-analytics
    * stack derives from the same sessions the funnel uses.
    *
    * Scale: pattern extraction is lead() under the session-partitioned
    * window (no cross-session state); the support aggregate shuffles
    * one row per (session, pattern); top-15 via per-partition heaps +
    * boundedRank. */
  val qSeqMining = QueryDef.sql(
    "q_seq_mining",
    """WITH marked AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts), 1, epoch_ns(ts))
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 1800000000000 THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         sum(new_session)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS sid
      |  FROM marked),
      |nx AS (
      |  SELECT user_id, sid, event_type AS t0,
      |         lead(event_type, 1) OVER w AS t1,
      |         lead(event_type, 2) OVER w AS t2
      |  FROM sess
      |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)),
      |pats AS (
      |  SELECT user_id, sid, t0 || '>' || t1 AS pattern, 2 AS len
      |  FROM nx WHERE t1 IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, sid, t0 || '>' || t1 || '>' || t2, 3
      |  FROM nx WHERE t2 IS NOT NULL),
      |tot AS (SELECT count(*) AS n_sessions
      |        FROM (SELECT DISTINCT user_id, sid FROM sess)),
      |dsup AS (
      |  SELECT pattern, user_id, sid, any_value(len) AS len,
      |         count(*) AS n_occ_part
      |  FROM pats GROUP BY pattern, user_id, sid),
      |sup AS (
      |  SELECT pattern, any_value(len) AS len, sum(n_occ_part) AS n_occ,
      |         count(*) AS n_sess
      |  FROM dsup GROUP BY pattern),
      |ranked AS (
      |  SELECT pattern, CAST(len AS INT) AS len,
      |         CAST(n_occ AS BIGINT) AS n_occ,
      |         CAST(n_sess AS BIGINT) AS n_sess,
      |         round(n_sess * 1.0 / tot.n_sessions, 4) AS support,
      |         CAST(row_number()
      |              OVER (ORDER BY n_sess DESC, pattern) AS INT) AS rank
      |  FROM sup CROSS JOIN tot)
      |SELECT pattern, len, n_occ, n_sess, support, rank
      |FROM ranked WHERE rank <= 15 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("new_session",
        when($"ts_ns" - lag($"ts_ns", 1, null).over(
          Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id"))
          > 1800000000000L, 1L).otherwise(0L))
      // (user_id, sid) PAIR key — the former packed user_id*100000+sid
      // bigint silently collides at ≥100k sessions/user (multi-year
      // corpora reach it); the pair key cannot collide at any scale, and
      // the distinct-session counts below become two-level map-side
      // combinable aggregations instead of count(DISTINCT packed).
      .withColumn("sid", sum($"new_session").over(cum))
    val wSess =
      Window.partitionBy($"user_id", $"sid").orderBy($"ts_us", $"event_id")
    val nx = sess.select($"user_id", $"sid", $"event_type".as("t0"),
      lead($"event_type", 1).over(wSess).as("t1"),
      lead($"event_type", 2).over(wSess).as("t2"))
    val pats = nx
      .filter($"t1".isNotNull)
      .select($"user_id", $"sid",
        concat($"t0", lit(">"), $"t1").as("pattern"), lit(2).as("len"))
      .unionAll(nx
        .filter($"t2".isNotNull)
        .select($"user_id", $"sid",
          concat($"t0", lit(">"), $"t1", lit(">"), $"t2").as("pattern"),
          lit(3).as("len")))
    val tot = sess.select($"user_id", $"sid").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val sup = pats
      .groupBy($"pattern", $"user_id", $"sid")
      .agg(first($"len").as("len"), count(lit(1)).as("n_occ_part"))
      .groupBy($"pattern")
      .agg(first($"len").as("len"), sum($"n_occ_part").as("n_occ"),
        count(lit(1)).as("n_sess"))
    val top = sup
      .crossJoin(broadcast(tot))
      .select($"pattern", $"len".cast("int").as("len"),
        $"n_occ".cast("long").as("n_occ"),
        $"n_sess".cast("long").as("n_sess"),
        round($"n_sess" * lit(1.0) / $"n_sessions", 4).as("support"))
      .orderBy($"n_sess".desc, $"pattern")
      .limit(15)
    CorpusOps
      .boundedRank(top, struct((-$"n_sess").as("nn"), $"pattern"), "rank")
      .select($"pattern", $"len", $"n_occ", $"n_sess", $"support", $"rank")
      .orderBy($"rank")
  }

  /** Power-iteration rounds for the stationary distribution. */
  val MarkovRounds = 15

  /** One π' = π·P round as SQL over CTEs `pm(a, b, p)` and
    * `pi$k(t, pi)`. */
  private def markovItersSql(iters: Int): String =
    (0 until iters)
      .map { k =>
        s"""pi${k + 1} AS MATERIALIZED (
           |  SELECT pm.b AS t, sum(pi$k.pi * pm.p) AS pi
           |  FROM pm JOIN pi$k ON pi$k.t = pm.a
           |  GROUP BY pm.b)""".stripMargin
      }
      .mkString(",\n")

  /** Stationary distribution of the event-type Markov chain — the
    * long-run read on [[qEventTransitions]]' matrix: restrict the
    * chain to types with outgoing transitions (closed), row-normalize,
    * run [[MarkovRounds]] power-iteration rounds from uniform, and
    * report π beside each type's EMPIRICAL share — the drift between
    * them is the mixing diagnostic (large gaps mean the chain hasn't
    * mixed or heavy self-loops trap mass).
    *
    * Scale: the corpus-scale pass is the same per-user lead() window
    * the transition matrix pays; the iteration multiplies a \|types\|-
    * vector against a \|types\|²-matrix — driver-trivial, kept as a
    * dataflow for the oracle's sake. */
  val qMarkovStationary = QueryDef.sql(
    "q_markov_stationary", {
      val iters = markovItersSql(MarkovRounds)
      s"""WITH seq AS (
         |  SELECT user_id, event_type AS a,
         |         lead(event_type) OVER (PARTITION BY user_id
         |                                ORDER BY epoch_ns(ts), event_id) AS b
         |  FROM events),
         |pairs AS (
         |  SELECT a, b, count(*) AS n FROM seq WHERE b IS NOT NULL
         |  GROUP BY a, b),
         |closed AS (
         |  SELECT p.a, p.b, p.n FROM pairs p
         |  WHERE p.b IN (SELECT DISTINCT a FROM pairs)),
         |tot AS (SELECT a, sum(n) AS na FROM closed GROUP BY a),
         |pm AS MATERIALIZED (
         |  SELECT c.a, c.b, c.n * 1.0 / t.na AS p
         |  FROM closed c JOIN tot t ON t.a = c.a),
         |nt AS (SELECT count(*) AS k FROM tot),
         |pi0 AS MATERIALIZED (
         |  SELECT a AS t, 1.0 / (SELECT k FROM nt) AS pi FROM tot),
         |$iters,
         |emp AS (
         |  SELECT event_type AS t, count(*) * 1.0 AS n FROM events
         |  WHERE event_type IN (SELECT a FROM tot) GROUP BY 1),
         |etot AS (SELECT sum(n) AS en FROM emp)
         |SELECT pi.t AS event_type, round(pi.pi, 6) AS pi,
         |       round(emp.n / etot.en, 6) AS empirical,
         |       round(pi.pi - emp.n / etot.en, 6) + 0.0 AS drift
         |FROM pi$MarkovRounds pi JOIN emp ON emp.t = pi.t
         |CROSS JOIN etot ORDER BY event_type""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
    val pairs = Tables
      .events(s, d)
      .select($"user_id", $"event_type".as("a"),
        lead($"event_type", 1).over(w).as("b"))
      .filter($"b".isNotNull)
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n"))
      .coalesce(1).localCheckpoint() // |types|² matrix; reused each round
    val srcs = pairs.select($"a").distinct()
    val closed = pairs
      .join(broadcast(srcs.select($"a".as("bb"))), $"b" === $"bb", "left_semi")
    val tot = closed.groupBy($"a").agg(sum($"n").as("na"))
    val pm = Iterate.checkpoint(closed
      .join(broadcast(tot), "a")
      .select($"a", $"b", ($"n" * lit(1.0) / $"na").as("p"))
      .coalesce(1), aqe = false)
    val k = tot.count()
    val pi0 = Iterate.checkpoint(
      tot.select($"a".as("t"), lit(1.0 / k).as("pi")).coalesce(1), aqe = false)
    val pi = Iterate.fixpoint(pi0, MarkovRounds, aqe = false) { (pi, _) =>
      Iterate.Round(pm
        .join(pi, pi("t") === pm("a"))
        .groupBy(pm("b").as("bt"))
        .agg(sum($"pi" * $"p").as("pi"))
        .select($"bt".as("t"), $"pi"))
    }.state
    val emp = Tables.events(s, d)
      .join(broadcast(tot.select($"a".as("event_type"))), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("n"))
    val etot = emp.agg(sum($"n").as("en"))
    pi
      .join(emp, $"event_type" === $"t")
      .crossJoin(broadcast(etot))
      .select($"t".as("event_type"), round($"pi", 6).as("pi"),
        round($"n" / $"en", 6).as("empirical"),
        (round($"pi" - $"n" / $"en", 6) + 0.0).as("drift"))
      .orderBy($"event_type")
  }

  /** Funnel time-to-convert — the latency read beside [[qFunnel]]'s
    * conversion counts: for each converting user, the gap between the
    * first qualifying step events (same first-touch definitions as the
    * funnel), summarized as converted count + interpolated median and
    * p90 minutes per step pair.
    *
    * Scale: identical per-user min-aggregates to the funnel (three
    * scans of the type-filtered slivers, user-keyed joins); the
    * percentile runs per step over the converted-user relation. */
  val qFunnelTime = QueryDef.sql(
    "q_funnel_time",
    """WITH s1 AS (
      |  SELECT user_id, min(epoch_ns(ts)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, s1.t1, min(epoch_ns(e.ts)) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t1
      |  GROUP BY e.user_id, s1.t1),
      |s3 AS (
      |  SELECT e.user_id, s2.t2, min(epoch_ns(e.ts)) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t2
      |  GROUP BY e.user_id, s2.t2),
      |gaps AS (
      |  SELECT 'view>click' AS step,
      |         (t2 - t1) / 60000000000.0 AS gap_min FROM s2
      |  UNION ALL
      |  SELECT 'click>purchase', (t3 - t2) / 60000000000.0 FROM s3)
      |SELECT step, CAST(count(*) AS BIGINT) AS n_converted,
      |       round(quantile_cont(gap_min, 0.5), 4) AS median_min,
      |       round(quantile_cont(gap_min, 0.9), 4) AS p90_min
      |FROM gaps GROUP BY step ORDER BY step""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"event_type", $"ts_ns")
    val s1 = ev
      .filter($"event_type" === "view")
      .groupBy($"user_id")
      .agg(min($"ts_ns").as("t1"))
    val s2 = ev
      .filter($"event_type" === "click")
      .join(s1, "user_id")
      .filter($"ts_ns" > $"t1")
      .groupBy($"user_id", $"t1")
      .agg(min($"ts_ns").as("t2"))
    val s3 = ev
      .filter($"event_type" === "purchase")
      .join(s2.select($"user_id", $"t2"), "user_id")
      .filter($"ts_ns" > $"t2")
      .groupBy($"user_id", $"t2")
      .agg(min($"ts_ns").as("t3"))
    s2.select(lit("view>click").as("step"),
        (($"t2" - $"t1") / 60000000000.0).as("gap_min"))
      .unionAll(s3.select(lit("click>purchase").as("step"),
        (($"t3" - $"t2") / 60000000000.0).as("gap_min")))
      .groupBy($"step")
      .agg(count(lit(1)).cast("long").as("n_converted"),
        round(expr("percentile(gap_min, 0.5)"), 4).as("median_min"),
        round(expr("percentile(gap_min, 0.9)"), 4).as("p90_min"))
      .orderBy($"step")
  }

  /** Population stability index (the credit-scoring drift metric; see
    * Siddiqi 2006) of each type's value distribution, first half of the
    * observation window vs second: bins = the FIRST half's value
    * deciles (the reference population defines the grid), PSI =
    * Σ (p₂−p₁)·ln(p₂/p₁) with 1e-4 floor on shares (the standard
    * zero-cell guard). PSI < 0.1 stable, 0.1–0.2 moderate, > 0.2 major
    * — the model-monitoring read beside [[qKsTest]]'s hypothesis test.
    *
    * Scale: the decile cuts are one percentile aggregate per type
    * (broadcast, 9 doubles each); binning is scan-fused comparisons
    * against them; shares are a (type, half, bin) count aggregate. */
  val qPsiDrift = QueryDef.sql(
    "q_psi_drift",
    """WITH span AS (
      |  SELECT CAST(min(epoch_ns(ts)) AS BIGINT) AS lo,
      |         CAST(max(epoch_ns(ts)) AS BIGINT) AS hi
      |  FROM events),
      |ev AS (
      |  SELECT event_type, value,
      |         CASE WHEN epoch_ns(ts) * 2 < span.lo + span.hi
      |              THEN 1 ELSE 2 END AS half
      |  FROM events CROSS JOIN span WHERE value > 0),
      |cuts AS (
      |  SELECT event_type,
      |         unnest(quantile_cont(value,
      |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS cut
      |  FROM ev WHERE half = 1 GROUP BY event_type),
      |vc AS (
      |  SELECT event_type, half, value, count(*) AS m
      |  FROM ev GROUP BY 1, 2, 3),
      |binned AS (
      |  SELECT vc.event_type, vc.half,
      |         sum(CASE WHEN vc.value > cuts.cut THEN 1 ELSE 0 END) AS bin,
      |         any_value(vc.m) AS m
      |  FROM vc JOIN cuts ON cuts.event_type = vc.event_type
      |  GROUP BY vc.event_type, vc.half, vc.value),
      |shares AS (
      |  SELECT event_type, half, bin, sum(m) AS c
      |  FROM binned GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT event_type, half, sum(c) AS n FROM shares GROUP BY 1, 2),
      |grid AS (
      |  SELECT t1.event_type, d.bin
      |  FROM (SELECT DISTINCT event_type FROM shares) t1
      |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) d),
      |px AS (
      |  SELECT g.event_type, g.bin,
      |         greatest(coalesce(s1.c, 0) * 1.0 / t1.n, 0.0001) AS p1,
      |         greatest(coalesce(s2.c, 0) * 1.0 / t2.n, 0.0001) AS p2
      |  FROM grid g
      |  JOIN tot t1 ON t1.event_type = g.event_type AND t1.half = 1
      |  JOIN tot t2 ON t2.event_type = g.event_type AND t2.half = 2
      |  LEFT JOIN shares s1 ON s1.event_type = g.event_type
      |    AND s1.half = 1 AND s1.bin = g.bin
      |  LEFT JOIN shares s2 ON s2.event_type = g.event_type
      |    AND s2.half = 2 AND s2.bin = g.bin)
      |SELECT event_type,
      |       round(sum((p2 - p1) * ln(p2 / p1)), 4) AS psi,
      |       CASE WHEN round(sum((p2 - p1) * ln(p2 / p1)), 4) > 0.2
      |              THEN 'major'
      |            WHEN round(sum((p2 - p1) * ln(p2 / p1)), 4) > 0.1
      |              THEN 'moderate'
      |            ELSE 'stable' END AS drift_level
      |FROM px GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val span = Tables.events(s, d)
      .agg(min($"ts_ns").as("lo"), max($"ts_ns").as("hi"))
    val ev = Tables.events(s, d)
      .filter($"value" > 0)
      .crossJoin(broadcast(span))
      .select($"event_type", $"value",
        when($"ts_ns" * 2 < $"lo" + $"hi", 1).otherwise(2).as("half"))
    // distinct-value aggregate first (equal values share a bin), then
    // bin against the 9 broadcast cuts — the 9× blow-up runs on the
    // distinct-value relation, not the corpus
    val vc = ev.groupBy($"event_type", $"half", $"value")
      .agg(count(lit(1)).as("m"))
    // Decile cuts from the RAW first-half rows — the r14 frequency-form
    // rewrite (percentile(value, probs, m) over the distinct-value
    // relation) was REVERTED in r15: the driver's BENCH_r14 measured it
    // 0.94×/0.82× (q_psi_drift/q_drift_panel) and the quiet-window
    // best-of-10 A/B reproduced the regression (psi 0.919 raw vs 1.009
    // freq; panel 2.04 raw vs 2.25 freq, canary ≤0.65 s both sides).
    // The claimed exchange reuse never pays: the weighted-percentile
    // final aggregate is costlier than the corpus-side partial it was
    // meant to save, and vc's exchange is small relative to both.
    val cuts = ev
      .filter($"half" === 1)
      .groupBy($"event_type")
      .agg(expr(
        "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("cs"))
      .select($"event_type", explode($"cs").as("cut"))
    val shares = vc
      .join(broadcast(cuts), "event_type")
      .groupBy($"event_type", $"half", $"value")
      .agg(sum(when($"value" > $"cut", 1).otherwise(0)).as("bin"),
        first($"m").as("m"))
      .groupBy($"event_type", $"half", $"bin")
      .agg(sum($"m").as("c"))
    val tot = shares.groupBy($"event_type", $"half").agg(sum($"c").as("n"))
    val grid = shares.select($"event_type").distinct()
      .crossJoin(broadcast(s.range(0, 10).select($"id".as("bin"))))
    val px = grid
      .join(broadcast(tot.filter($"half" === 1)
        .select($"event_type", $"n".as("n1"))), "event_type")
      .join(broadcast(tot.filter($"half" === 2)
        .select($"event_type", $"n".as("n2"))), "event_type")
      .join(broadcast(shares.filter($"half" === 1)
        .select($"event_type", $"bin", $"c".as("c1"))),
        Seq("event_type", "bin"), "left")
      .join(broadcast(shares.filter($"half" === 2)
        .select($"event_type", $"bin", $"c".as("c2"))),
        Seq("event_type", "bin"), "left")
      .select($"event_type", $"bin",
        greatest(coalesce($"c1", lit(0L)) * lit(1.0) / $"n1", lit(0.0001))
          .as("p1"),
        greatest(coalesce($"c2", lit(0L)) * lit(1.0) / $"n2", lit(0.0001))
          .as("p2"))
    val psi = round(sum(($"p2" - $"p1") * log($"p2" / $"p1")), 4)
    px
      .groupBy($"event_type")
      .agg(psi.as("psi"),
        when(psi > 0.2, "major")
          .when(psi > 0.1, "moderate")
          .otherwise("stable").as("drift_level"))
      .orderBy($"event_type")
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, "Improving
    * the sensitivity of online controlled experiments by utilizing
    * pre-experiment data"): per user, the experiment-period metric y
    * (second-half spend) adjusted by the pre-period covariate x
    * (first-half spend): y_adj = y − θ(x − x̄), θ = cov(x,y)/var(x).
    * Reports θ, both variances, and the realized variance reduction
    * (= ρ² in expectation) — the dial that tells an experimenter how
    * much A/B sample the covariate buys ([[qAbTest]]'s companion).
    *
    * Scale: per-user period sums are one count-shuffle; θ and x̄ are
    * broadcast 1-row moments; the adjusted variance is a second moment
    * aggregate — nothing beyond three aggregate-sized exchanges. */
  val qCuped = QueryDef.sql(
    "q_cuped",
    """WITH span AS (
      |  SELECT CAST(min(epoch_ns(ts)) AS BIGINT) AS lo,
      |         CAST(max(epoch_ns(ts)) AS BIGINT) AS hi
      |  FROM events),
      |per_user AS (
      |  SELECT user_id,
      |         sum(CASE WHEN epoch_ns(ts) * 2 < span.lo + span.hi
      |                  THEN value ELSE 0 END) AS x,
      |         sum(CASE WHEN epoch_ns(ts) * 2 >= span.lo + span.hi
      |                  THEN value ELSE 0 END) AS y
      |  FROM events CROSS JOIN span
      |  GROUP BY user_id),
      |mom AS (
      |  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
      |         covar_pop(x, y) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy
      |  FROM per_user),
      |adj AS (
      |  SELECT var_pop(u.y - (mom.cxy / mom.vx) * (u.x - mom.mx)) AS vadj
      |  FROM per_user u CROSS JOIN mom)
      |SELECT CAST(mom.n AS BIGINT) AS n_users,
      |       round(mom.cxy / mom.vx, 4) + 0.0 AS theta,
      |       round(mom.vy, 4) + 0.0 AS var_y,
      |       round(adj.vadj, 4) + 0.0 AS var_adj,
      |       round(1.0 - adj.vadj / mom.vy, 4) + 0.0 AS var_reduction
      |FROM mom CROSS JOIN adj""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val span = Tables.events(s, d)
      .agg(min($"ts_ns").as("lo"), max($"ts_ns").as("hi"))
    val perUser = Tables.events(s, d)
      .crossJoin(broadcast(span))
      .groupBy($"user_id")
      .agg(
        sum(when($"ts_ns" * 2 < $"lo" + $"hi", $"value").otherwise(0.0))
          .as("x"),
        sum(when($"ts_ns" * 2 >= $"lo" + $"hi", $"value").otherwise(0.0))
          .as("y"))
      .localCheckpoint() // per-user relation; reused by moments + adj
    val mom = perUser.agg(
      count(lit(1)).as("n"), avg($"x").as("mx"), avg($"y").as("my"),
      covar_pop($"x", $"y").as("cxy"),
      var_pop($"x").as("vx"), var_pop($"y").as("vy"))
    val adj = perUser
      .crossJoin(broadcast(mom))
      .agg(var_pop($"y" - ($"cxy" / $"vx") * ($"x" - $"mx")).as("vadj"))
    mom
      .crossJoin(broadcast(adj))
      .select($"n".cast("long").as("n_users"),
        (round($"cxy" / $"vx", 4) + 0.0).as("theta"),
        (round($"vy", 4) + 0.0).as("var_y"),
        (round($"vadj", 4) + 0.0).as("var_adj"),
        (round(lit(1.0) - $"vadj" / $"vy", 4) + 0.0).as("var_reduction"))
  }

  /** Time-decayed engagement score (the feature-store recency
    * aggregate): per user, Σ value·exp(−λ·Δdays) at the corpus
    * reference time (max ts, broadcast), λ = 0.1/day — yesterday's
    * activity counts ~90% of today's, last month's ~5%. Emitted beside
    * the undecayed sum; the ratio is the user's recency profile. A pure
    * scan-side exponential — no window, no per-user ordering.
    *
    * Scale: one broadcast 1-row reference + one per-user aggregate. */
  val qDecayScore = QueryDef.sql(
    "q_decay_score",
    """WITH ref AS (SELECT max(epoch_ns(ts)) AS t FROM events),
      |s AS (
      |  SELECT user_id,
      |         count(*) AS n_events,
      |         sum(value * exp(-0.1 * (ref.t - epoch_ns(ts))
      |                         / 86400000000000.0)) AS decayed,
      |         sum(value) AS plain
      |  FROM events CROSS JOIN ref
      |  GROUP BY user_id)
      |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
      |       round(decayed, 4) + 0.0 AS decayed_score,
      |       round(plain, 2) + 0.0 AS plain_sum,
      |       round(CASE WHEN abs(plain) < 1e-9 THEN 0
      |                  ELSE decayed / plain END, 4) + 0.0 AS recency_ratio
      |FROM s ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ref = Tables.events(s, d).agg(max($"ts_ns").as("t"))
    Tables.events(s, d)
      .crossJoin(broadcast(ref))
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        (round(sum($"value" * exp(lit(-0.1) * ($"t" - $"ts_ns")
          / 86400000000000.0)), 4) + 0.0).as("decayed_score"),
        (round(sum($"value"), 2) + 0.0).as("plain_sum"),
        // the ratio fences near-zero denominators with abs(Σv) < 1e-9 (0
        // emitted, matching the CASE in the oracle text): an EXACT == 0
        // test is itself a cross-engine hazard for cancelling sums —
        // summation order differs between Spark's partial aggregation and
        // DuckDB's scan, so a multiset like {0.1, 0.3, -0.4} can sum to
        // exactly 0.0 in one engine and ±5e-17 in the other (one emits 0,
        // the other ±1e16). An ε-floor like greatest(Σv, ε) would distort
        // a NEGATIVE plain_sum, so the band fence is on |Σv|.
        (round(when(abs(sum($"value")) < 1e-9, lit(0.0))
          .otherwise(sum($"value" * exp(lit(-0.1) * ($"t" - $"ts_ns")
            / 86400000000000.0)) / sum($"value")), 4) + 0.0)
          .as("recency_ratio"))
      .orderBy($"user_id")
  }

  /** Consecutive-day activity streaks per user (gaps-and-islands over
    * distinct active days: day − row_number is constant within a run) —
    * the engagement metric beside [[qCohortRetention]]'s matrix: active
    * days, longest streak, current streak (a run touching the corpus'
    * last day), streak count.
    *
    * Scale: the corpus pass is one (user, day) distinct aggregate; the
    * island window is user-partitioned over that aggregate (≤ days
    * rows per user). */
  val qUserStreaks = QueryDef.sql(
    "q_user_streaks",
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS BIGINT) AS day
      |  FROM events),
      |mx AS (SELECT max(day) AS last_day FROM d),
      |isl AS (
      |  SELECT user_id, day,
      |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |           AS island
      |  FROM d),
      |runs AS (
      |  SELECT user_id, island, count(*) AS len, max(day) AS run_end
      |  FROM isl GROUP BY user_id, island)
      |SELECT r.user_id,
      |       CAST(sum(r.len) AS BIGINT) AS n_active_days,
      |       CAST(max(r.len) AS BIGINT) AS longest_streak,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(coalesce(max(CASE WHEN r.run_end = mx.last_day
      |                              THEN r.len END), 0) AS BIGINT)
      |         AS current_streak
      |FROM runs r CROSS JOIN mx
      |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val days = Tables.events(s, d)
      .select($"user_id",
        datediff(date_trunc("day", $"ts").cast("date"), lit("1970-01-01"))
          .cast("long").as("day"))
      .distinct()
    val mx = days.agg(max($"day").as("last_day"))
    val wIsl = Window.partitionBy($"user_id").orderBy($"day")
    val runs = days
      .withColumn("island", $"day" - row_number().over(wIsl))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"), max($"day").as("run_end"))
    runs
      .crossJoin(broadcast(mx))
      .groupBy($"user_id")
      .agg(sum($"len").cast("long").as("n_active_days"),
        max($"len").cast("long").as("longest_streak"),
        count(lit(1)).cast("long").as("n_streaks"),
        coalesce(max(when($"run_end" === $"last_day", $"len")), lit(0L))
          .cast("long").as("current_streak"))
      .orderBy($"user_id")
  }

  /** Drift/trend monitoring panel — the per-type dashboard row a
    * monitoring stack publishes, composing three already-gated screens
    * by REUSING their definitions (Spark side joins the registered
    * query functions; the oracle wraps the registered oracle texts as
    * subqueries — neither side restates any screen's logic, so the
    * panel can never drift from its parts): PSI distribution drift,
    * Mann-Kendall monotone trend, CUSUM level shift, and a fused
    * any-alarm verdict.
    *
    * Scale: exactly the union of the three screens' (audited) costs
    * plus a ≤\|types\|-row join. */
  val qDriftPanel: QueryDef = QueryDef.sql(
    "q_drift_panel",
    // assembled WITHOUT stripMargin: the embedded oracle texts contain
    // lines starting with the '||' concat operator, which stripMargin
    // would corrupt
    s"WITH psi AS (${qPsiDrift.oracle.get}),\n" +
      s"mk AS (${qTrendMk.oracle.get}),\n" +
      s"cu AS (${qCusumChangepoint.oracle.get})\n" +
      """SELECT psi.event_type, psi.psi, psi.drift_level,
        |       mk.z AS mk_z, mk.trending,
        |       cu.norm_peak AS cusum_peak, cu.shifted,
        |       (psi.drift_level <> 'stable' OR mk.trending OR cu.shifted)
        |         AS any_alarm
        |FROM psi
        |JOIN mk ON mk.event_type = psi.event_type
        |JOIN cu ON cu.event_type = psi.event_type
        |ORDER BY psi.event_type""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val psi = qPsiDrift.fn(s, d).select($"event_type", $"psi", $"drift_level")
    val mk = qTrendMk.fn(s, d).select($"event_type", $"z".as("mk_z"),
      $"trending")
    val cu = qCusumChangepoint.fn(s, d)
      .select($"event_type", $"norm_peak".as("cusum_peak"), $"shifted")
    psi
      .join(mk, "event_type")
      .join(cu, "event_type")
      .select($"event_type", $"psi", $"drift_level", $"mk_z", $"trending",
        $"cusum_peak", $"shifted",
        ($"drift_level" =!= "stable" || $"trending" || $"shifted")
          .as("any_alarm"))
      .orderBy($"event_type")
  }

  def defs: Seq[QueryDef] =
    Seq(qRate1m, qPercentiles, qHistogram, qGauge, qSessionize, qTimeConv,
      qHistogramSketch, qMetricsRegistry, qAnomaly, qFunnel, qCohortRetention,
      qGapFill, qEwmaForecast, qEventTransitions, qEventsDdsketch,
      qRollingDistinct, qMadAnomaly, qSlidingRate, qFirstTouch,
      qSeasonalProfile, qRfmSegments, qAbTest, qKaplanMeier,
      qSessionWindowNative, qCusumChangepoint, qAcf, qTrendMk,
      qStlSeasonal, qKsTest, qSeqMining, qMarkovStationary, qFunnelTime,
      qPsiDrift, qCuped, qDecayScore, qUserStreaks, qDriftPanel)
}
