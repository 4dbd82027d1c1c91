package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream surface in batch form: JSON decoding (F11), tumbling
  * windows, sessionization (gaps-and-islands with lag + running sum),
  * and grouping-sets rollup. The same semantics run incrementally in
  * `graft.streaming.EventStreams` via Structured Streaming; these batch
  * twins are what the DuckDB oracle can check.
  *
  * Timestamps are compared as epoch microseconds (BIGINT): the parquet
  * column is nanosecond-precision and Spark truncates to micros on
  * read, so raw timestamp output would differ from an engine that
  * keeps nanos.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One JSON-LINES twin of the events table per (session, sfDir) —
    * the q190 file-source fixture: every event serialized as one JSON
    * object (event_id, event_type, value), with the q186 deterministic
    * corruption protocol (event_id % 17 → prefix garbage, so the whole
    * LINE is invalid JSON in any engine). Written once per session;
    * both the Spark scan and the DuckDB oracle read the SAME file — a
    * [[SessionMemo.fixtureDirs]] fixture, since the oracle check runs
    * after this JVM exits.
    * SINGLE-DRIVER ASSUMPTION, accepted explicitly: a concurrent
    * second session on the SAME scale factor could overwrite the file
    * between this session's Spark run and the driver's post-exit
    * DuckDB read. The harness runs one verify driver at a time (the
    * round contract), and the overwrite is byte-identical anyway (the
    * fixture is a deterministic function of the SF's events table), so
    * even a concurrent writer converges to the same content. */
  private val jsonDirs = SessionMemo.fixtureDirs("graft_jsonl")
  private def jsonEventsDir(s: SparkSession, d: String): String =
    jsonDirs(s, d) { dir =>
      val line = to_json(struct(col("event_id"), col("event_type"),
        col("value")))
      Tables.events(s, d)
        .select(when(col("event_id") % 17 === 0, concat(lit("x"), line))
          .otherwise(line).as("value"))
        .write.mode("overwrite").text(dir)
    }

  /** DYNAMIC oracle for q190 (the file path is session-scoped): DuckDB
    * reads the same file with its own `read_json`; `ignore_errors`
    * turns each unparseable line into an ALL-NULL row (not a skip), so
    * dead letters are the rows with a null event_id — the field every
    * valid line carries (events' key is never null). */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val dir = jsonEventsDir(s, d)
    Map("q190_json_source_census" ->
      s"""WITH v AS (SELECT * FROM read_json('$dir/part-*',
         |    format = 'newline_delimited',
         |    columns = {event_id: 'BIGINT', event_type: 'VARCHAR',
         |               value: 'DOUBLE'},
         |    ignore_errors = true))
         |SELECT coalesce(event_type, '_corrupt_') AS event_type,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_malformed,
         |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0)
         |    AS BIGINT) AS value_cents
         |FROM v GROUP BY 1""".stripMargin)
  }

  val defs: Map[String, Q] = Map(
    // JSON-LINES FILE SOURCE census — q186's dead-letter accounting
    // extended to the file-source path (Ingest.jsonLines: explicit
    // schema, PERMISSIVE, _corrupt dead-letter column). The fixture
    // file is derived from events with 1/17 of the lines corrupted;
    // a dead letter parses to all-null data fields + the raw line in
    // _corrupt, so the census books it under the '_corrupt_' group
    // with nothing silently dropped.
    "q190_json_source_census" -> { (s, d) =>
      val df = graft.sources.Ingest.jsonLines(s, jsonEventsDir(s, d),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE"))
      df.groupBy(coalesce(col("event_type"), lit("_corrupt_"))
          .as("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .as("n_malformed"),
          sum(coalesce(floor(col("value") * 100).cast("long"), lit(0L)))
            .as("value_cents"))
    },
    // Per-user integer EWMA (α = 1/4) over the time-ordered event
    // stream — the BATCH form of per-entity custom state
    // (groupByKey.mapGroups; the streaming sibling is
    // flatMapGroupsWithState). The order-dependent recursion stays
    // exact int64 cents (floor both engines: round would tie-break
    // differently), so DuckDB replays it as list_reduce over the same
    // (ts, event_id)-ordered list.
    "q115_user_ewma" -> { (s, d) =>
      graft.operators.Relational.ewmaInt(
          Tables.events(s, d),
          col("user_id"), unix_micros(col("ts")), col("event_id"),
          floor(col("value") * 100), num = 1L, den = 4L)
        .select(col("key").as("user_id"), col("n_events"),
          col("ewma").as("ewma_cents"))
    },

    // Day-of-week SEASONALITY profile — the time-series decomposition
    // primitive per event type: weekday activity shares as the exact
    // integer pair (n_events, n_type) (share = n_events/n_type left
    // rational, the q66 discipline) plus the cent-exact value mass.
    // The weekday index is days-since-epoch mod 7 (0 = Thursday) —
    // pure int64 arithmetic identical in both engines, where the
    // built-in dayofweek()s disagree on week-start conventions.
    "q159_dow_seasonality" -> { (s, d) =>
      val dow = pmod(call_function("div",
        unix_timestamp(col("ts")), lit(86400L)), lit(7L))
      val byDow = Tables.events(s, d)
        .groupBy(col("event_type"), dow.as("dow_idx"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100)).as("value_cents"))
      val totals = Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
      byDow.join(broadcast(totals), "event_type")
        .select(col("event_type"), col("dow_idx"), col("n_events"),
          col("n_type"), col("value_cents"))
    },

    // TIME-TO-CONVERT within a deadline — for every click, the NEXT
    // purchase by the same user (the as-of join REVERSED by negating
    // the time axis: last-at-or-before over −t IS first-at-or-after
    // over t, so q46's operator serves the forward direction with
    // zero new machinery), converted iff it lands within 3600 s.
    // Purchases pre-deduped per (user, instant) for deterministic
    // carry under ties; exact integer counts and delay sums.
    "q177_time_to_convert" -> { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("tc"))
        .withColumn("neg_tc", -col("tc"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("tp"))
        .distinct()
        .withColumn("neg_tp", -col("tp"))
      val conv = col("tp").isNotNull && col("tp") - col("tc") <= 3600
      graft.operators.Joins.asOfJoin(clicks, purchases,
          "user_id", "user_id", "neg_tc", "neg_tp", Seq("tp"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(conv, 1L).otherwise(0L)).as("n_converted"),
          sum(when(conv, col("tp") - col("tc")).otherwise(0L))
            .as("sum_delay_s"))
    },

    // ROBUST outliers by MEDIAN ABSOLUTE DEVIATION — the
    // breakdown-resistant alternative to q92's IQR fences: per event
    // type, the exact nearest-rank median of value cents, the exact
    // median of absolute deviations from it (TWO chained passes of
    // the q117 grouped-quantile machinery — global two-phase rank,
    // broadcast rank targets, no single-partition sort), and the
    // count beyond the classic 3·MAD fence. All integer cents — the
    // medians are READ, never interpolated, so the whole computation
    // replays exactly.
    "q173_mad_outliers" -> { (s, d) =>
      def groupedMedian(df: DataFrame, grp: String, v: String,
                        tie: String, as: String): DataFrame = {
        val ranked = graft.Checkpoints.checkpoint(
          graft.operators.Relational.globalCumsum(df,
            Seq(col(grp), col(v), col(tie)), lit(1L), "rnk"))
        val targets = ranked.groupBy(col(grp).as("_g"))
          .agg(min(col("rnk")).as("off"), count(lit(1)).as("n"))
          .select(col("_g"), (col("off") - lit(1L) +
            greatest(lit(1L), ceil(lit(0.5) * col("n")).cast("long")))
            .as("tr"))
        ranked.join(broadcast(targets), col("rnk") === col("tr"))
          .select(col(grp), col(v).as(as))
      }
      val ev = graft.Checkpoints.checkpoint(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type"), col("event_id"),
            floor(col("value") * 100).cast("long").as("cents")))
      val med = groupedMedian(ev, "event_type", "cents", "event_id", "med")
      val withDev = graft.Checkpoints.checkpoint(
        ev.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("cents") - col("med"))))
      val mad = groupedMedian(
        withDev.select(col("event_type"), col("dev"), col("event_id")),
        "event_type", "dev", "event_id", "mad")
      withDev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("med_cents"),
          min(col("mad")).as("mad_cents"),
          sum(when(col("dev") > lit(3L) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    },

    // DISTRIBUTION DRIFT between the first 15 observed days and the
    // rest — the two-sample monitoring check an ML pipeline runs on
    // its feature stream: q162's equi-width binning over the global
    // cent range, per-bin counts for both periods, and the exact
    // cross-multiplied share delta n_a·T_b − n_b·T_a (sign = drift
    // direction, zero ⇔ identical shares — the χ²/PSI numerator kept
    // rational, no logs or squares to overflow or drift). Scalars
    // (day origin, range, totals) ride as broadcast 1-rows.
    "q174_dist_drift" -> { (s, d) =>
      val day = call_function("div",
        unix_timestamp(col("ts")), lit(86400L))
      val ev = graft.Checkpoints.checkpoint(
        Tables.events(s, d)
          .select(day.as("day"),
            floor(col("value") * 100).cast("long").as("cents")))
      val scal = ev.agg(min(col("day")).as("d0"),
        min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val counts = graft.Checkpoints.checkpoint(
        ev.crossJoin(broadcast(scal))
          .select(when(col("day") < col("d0") + 15, lit("a"))
              .otherwise(lit("b")).as("period"),
            expr("(cents - lo) * 8 div (hi - lo + 1)").as("bin"))
          .groupBy(col("bin"))
          .agg(sum(when(col("period") === "a", 1L).otherwise(0L)).as("n_a"),
            sum(when(col("period") === "b", 1L).otherwise(0L)).as("n_b")))
      val totals = counts.agg(sum(col("n_a")).as("t_a"),
        sum(col("n_b")).as("t_b"))
      counts.crossJoin(broadcast(totals))
        .select(col("bin"), col("n_a"), col("n_b"), col("t_a"),
          col("t_b"),
          (col("n_a") * col("t_b") - col("n_b") * col("t_a"))
            .as("delta_scaled"))
    },

    // ROLLING 7-day active users — the classic engagement metric no
    // plain window aggregate computes (distinct-over-RANGE isn't a
    // window function): each (user, active-day) pair contributes to
    // the 7 window-END days it falls inside, then one countDistinct
    // per day. The contribution explode is a fixed 7× of the
    // user-DAY relation (already deduped — bounded by users·days, not
    // events), so the shape survives any event volume.
    "q171_rolling_actives" -> { (s, d) =>
      val day = call_function("div", unix_timestamp(col("ts")), lit(86400L))
      val ud = graft.Checkpoints.checkpoint(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("user_id"), day.as("day")).distinct())
      val days = ud.select(col("day")).distinct()
      val contrib = ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      contrib.join(days, "day")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("actives_7d"))
    },

    // LAST-TOUCH ATTRIBUTION — each purchase credited to the user's
    // latest view/click at or before the purchase instant, via the
    // engine's own as-of join (q46's union+window form; oracle =
    // DuckDB's native ASOF, the q46/q58 convention). Touches are
    // pre-deduped to one per (user, instant) by min event_type, so
    // the as-of carry has a deterministic winner under timestamp
    // ties; purchases with no prior touch credit 'none'.
    "q172_attribution" -> { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("vc"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_type")).as("touch_type"))
        .withColumnRenamed("ts", "touch_ts")
      graft.operators.Joins.asOfJoin(purchases, touches,
          "user_id", "user_id", "ts", "touch_ts", Seq("touch_type"))
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("vc")).as("value_cents"))
    },

    // Two-proportion A/B test — experiment analysis over the event
    // stream: variant = user_id parity, conversion = a HIGH-VALUE
    // purchase (value > 100 — every fixture user purchases SOMETHING,
    // which would pin p = 1 and zero the pooled variance); the output
    // is the exact integer moments (n_a, k_a, n_b,
    // k_b) PLUS the pooled two-proportion z-score as ONE shared IEEE
    // expression — division and sqrt are correctly rounded per IEEE
    // 754, so the identical op order lands on the identical double in
    // both engines (the q69 estimator convention). The decision
    // (|z| vs 1.96) belongs to the reader, the moments make it exact.
    "q163_ab_test" -> { (s, d) =>
      val per = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("user_id") >= 0)
        .groupBy((col("user_id") % 2).as("variant"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("event_type") === "purchase" &&
            col("value") > 100, col("user_id"))).as("n_converted"))
      val va = per.filter(col("variant") === 0)
        .select(col("n_users").as("na"), col("n_converted").as("ka"))
      val vb = per.filter(col("variant") === 1)
        .select(col("n_users").as("nb"), col("n_converted").as("kb"))
      val p = (col("ka") + col("kb")).cast("double") /
        (col("na") + col("nb"))
      val z = (col("ka").cast("double") / col("na") -
          col("kb").cast("double") / col("nb")) /
        sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      va.crossJoin(broadcast(vb))
        .select(col("na"), col("ka"), col("nb"), col("kb"),
          round(z, 4).as("z_score"))
    },

    // from_json over the props column + per-type aggregates.
    "q30_events_json" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          round(sum(dec(col("value"))).cast("double") / count(lit(1)), 2)
            .as("avg_value"))
    },

    // MALFORMED-INPUT accounting — the PERMISSIVE-ingestion census
    // (S-family robustness as a first-class query): a deterministic
    // fraction of props payloads is corrupted (event_id % 17 —
    // prefix garbage, invalid JSON in any engine), the parser is the
    // judge (from_json → null), and the output books per event type:
    // rows, rows that failed to parse, and the valid rows' exact
    // key sum. The dead-letter ratio an ingestion pipeline alerts on;
    // nothing is silently dropped.
    "q186_malformed_census" -> { (s, d) =>
      val raw = Tables.events(s, d)
        .withColumn("payload",
          when(col("event_id") % 17 === 0,
            concat(lit("x"), col("props"))).otherwise(col("props")))
        .withColumn("k",
          from_json(col("payload"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
      raw.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_malformed"),
          sum(coalesce(col("k"), lit(0L))).as("sum_k_valid"))
    },

    // Tumbling 1-hour window aggregate (window() Generator; the
    // streaming twin adds a watermark).
    "q31_tumbling_hour" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(dec(col("value"))), 2).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start_s"),
          col("event_type"), col("n_events"), col("n_users"), col("sum_value"))
    },

    // The streaming module's central operator under the oracle gate via
    // its BATCH twin: incrementalCoEdges is unified batch/stream code
    // (withWatermark is a no-op in batch), so the same stream-stream
    // interval self-join that maintains co-occurrence edges online is
    // hash-checked here — per-user pairs of event types within 1 hour.
    "q64_coevent_pairs" -> { (s, d) =>
      val authorship = Tables.events(s, d)
        .select(col("user_id").as("group"), col("event_type").as("member"),
          col("ts"))
      graft.streaming.EventStreams.incrementalCoEdges(authorship, "1 hour")
        .groupBy(col("group").as("user_id"), col("a"), col("b"))
        .agg(count(lit(1)).as("n_pairs"),
          max(unix_micros(col("pair_ts"))).as("last_pair_us"))
        .select(col("user_id"), col("a"), col("b"), col("n_pairs"),
          col("last_pair_us"))
    },

    // Sessionization: 30-min inactivity gap → session ids → per-session
    // stats. Deterministic ordering by (ts, event_id).
    "q32_sessionize" -> { (s, d) =>
      val us = unix_micros(col("ts"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), us.as("us"))
        .withColumn("prev", lag(col("us"), 1).over(byUser))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("flag")).over(byUser
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("sess_start_us"),
          max(col("us")).as("sess_end_us"))
    },

    // INTERVAL-OVERLAP JOIN (Joins.overlapJoin) — which user sessions
    // overlap which error-heavy hours (incident impact attribution):
    // q32's sessions as half-open [first, last+1) micro intervals,
    // incidents = hours with ≥ 2 error events, joined with NO equi-key
    // through hour-bucket equi-join + emit-once dedup (the bare theta
    // predicate would plan as a nested loop).
    "q193_session_incident_overlap" -> { (s, d) =>
      val us = unix_micros(col("ts"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          us.as("us"))
      val sess = ev
        .withColumn("prev", lag(col("us"), 1).over(byUser))
        .withColumn("flag",
          when(col("prev").isNull || col("us") - col("prev") > 1800000000L,
            1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("flag")).over(byUser
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("us")).as("s_st"), (max(col("us")) + 1L).as("s_en"))
      val H = 3600000000L
      val inc = ev.filter(col("event_type") === "error")
        .groupBy(call_function("div", col("us"), lit(H)).as("hr"))
        .agg(count(lit(1)).as("n_errors"))
        .filter(col("n_errors") >= 2L)
        .select((col("hr") * H).as("i_st"), (col("hr") * H + H).as("i_en"),
          col("n_errors"))
      graft.operators.Joins
        .overlapJoin(sess, inc, "s_st", "s_en", "i_st", "i_en", H)
        .select(col("user_id"), col("session_idx"),
          col("s_st").as("sess_start_us"),
          col("i_st").as("incident_start_us"), col("n_errors"),
          (least(col("s_en"), col("i_en")) -
            greatest(col("s_st"), col("i_st"))).as("overlap_us"))
    },

    // Grouping sets: ROLLUP over (year, priority) on orders.
    "q33_orders_rollup" -> { (s, d) =>
      Tables.orders(s, d)
        .rollup(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(dec(col("o_totalprice"))), 2).cast("double").as("total"))
    },

    // Sliding 1-hour window, 30-min slide, in batch form: each event
    // belongs to exactly two windows (streaming twin:
    // EventStreams.slidingCounts).
    "q43_sliding_hour" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("window.start")).as("win_start_s"),
          col("event_type"), col("n_events"))
    },

    // Pivot: event-type counts as columns per user (fixed value list →
    // deterministic output schema; oracle = FILTER aggregates).
    "q47_pivot_user_events" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },

    // Unpivot (melt): wide part attributes to long (attribute, value).
    "q48_unpivot_part" -> { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")),
          "attribute", "value")
    },

    // Equi-key-free interval join (Joins.intervalJoin): every event —
    // regardless of user — attributed to each 10-minute incident
    // window opened by an 'error' event. The bare range predicate
    // would plan as a BroadcastNestedLoopJoin (O(events × incidents));
    // the bucketed rewrite joins on a derived bucket equi-key instead.
    // Oracle is the plain theta join — the rewrite must be a pure
    // physical change.
    "q81_interval_attribution" -> { (s, d) =>
      val winUs = 600000000L // 10 minutes
      val pts = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      val incidents = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("outage_id"),
          unix_micros(col("ts")).as("w_start_us"),
          (unix_micros(col("ts")) + winUs).as("w_end_us"))
      graft.operators.Joins.intervalJoin(
          pts, incidents, "us", "w_start_us", "w_end_us", winUs)
        .groupBy(col("outage_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(dec(col("value"))), 2).cast("double").as("sum_value"))
    },

    // Staged conversion funnel view → click → purchase: the first
    // qualifying timestamp of each stage, each stage constrained to
    // at-or-after the previous stage's pick (NOT three independent
    // mins — a click before the first view must not count). Exact
    // epoch-micro integers; per-user row, later stages null when the
    // user never converts. Three keyed aggregations + left joins, no
    // windows — partial-aggregable at any scale.
    "q85_funnel_stages" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") >= col("view_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") >= col("click_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
    },

    // FUNNEL-STAGE LATENCY — q85's staged firsts extended with the
    // time dimension: per stage transition (view→click,
    // click→purchase) the completing-user count and the EXACT
    // nearest-rank median delay (the q173/q117 grouped-rank
    // machinery — no interpolation, no single-partition sort), plus
    // exact min/max. Where q85 counts who converts and q177 gates on
    // a deadline, this measures HOW LONG each stage takes.
    "q181_funnel_latency" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") >= col("view_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") >= col("click_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("purchase_us"))
      val delays = graft.Checkpoints.checkpoint(
        c.join(v, "user_id")
          .select(lit("view_to_click").as("stage"), col("user_id"),
            (col("click_us") - col("view_us")).as("delay_us"))
          .unionByName(p.join(c, "user_id")
            .select(lit("click_to_purchase").as("stage"), col("user_id"),
              (col("purchase_us") - col("click_us")).as("delay_us"))))
      val ranked = graft.Checkpoints.checkpoint(
        graft.operators.Relational.globalCumsum(delays,
          Seq(col("stage"), col("delay_us"), col("user_id")),
          lit(1L), "rnk"))
      val targets = ranked.groupBy(col("stage").as("_g"))
        .agg(min(col("rnk")).as("off"), count(lit(1)).as("n"))
        .select(col("_g"), (col("off") - lit(1L) +
          greatest(lit(1L), ceil(lit(0.5) * col("n")).cast("long")))
          .as("tr"))
      val med = ranked.join(broadcast(targets), col("rnk") === col("tr"))
        .select(col("stage"), col("delay_us").as("med_delay_us"))
      delays.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"),
          min(col("delay_us")).as("min_delay_us"),
          max(col("delay_us")).as("max_delay_us"))
        .join(broadcast(med), "stage")
        .select(col("stage"), col("n_users"), col("med_delay_us"),
          col("min_delay_us"), col("max_delay_us"))
    },

    // First-order journey model: per-user event-type transition counts
    // (lag over the user's exact timeline; '_start' marks session-less
    // entry). The Markov-chain input every product-analytics stack
    // derives — one window + one groupBy, integer-exact.
    "q90_transition_matrix" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("prev",
          coalesce(lag(col("event_type"), 1).over(byUser), lit("_start")))
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
    },

    // MARKOV ATTRIBUTION with removal effects (Anderl et al. 2014,
    // "Mapping the customer journey" — public): the q90 chain upgraded
    // to a journey model — per user, PURCHASE absorbs and the next
    // event restarts from _start; a journey that ends without
    // purchasing leaks to _end. For the full chain and for each chain
    // with one channel REMOVED (its state pinned to 0 — visits there
    // become losses), the 6-step absorption probability from _start
    // is computed in scaled ints (S = 10⁹, floor div per step — the
    // q87 discipline, so every round replays cross-engine); the
    // removal effect p_full − p_removed is the channel's credit. All
    // variants advance together: the state vector is keyed
    // (variant, state) and each round is one join + groupBy over the
    // TINY (states × variants) relation — the matrix build is the
    // only corpus-scale stage. Scale shape: one window pass + one
    // keyed count for the matrix; rounds are state-keyed; the final
    // baseline join is a 1-row broadcast (q42 shape).
    "q225_markov_attribution" -> { (s, d) =>
      val S = 1000000000L
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val byJourney = Window.partitionBy(col("user_id"), col("jid"))
        .orderBy(col("us"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        // journey id = purchases STRICTLY BEFORE this event
        .withColumn("jid", coalesce(sum(
          when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val steps = ev
        .withColumn("prev",
          coalesce(lag(col("event_type"), 1).over(byJourney), lit("_start")))
        .select(col("prev").as("v"), col("event_type").as("w"))
      // non-purchase journey tails leak to _end (purchase tails absorb)
      val tails = ev
        .withColumn("rdesc", row_number().over(
          Window.partitionBy(col("user_id"), col("jid"))
            .orderBy(col("us").desc, col("event_id").desc)))
        .filter(col("rdesc") === 1 && col("event_type") =!= "purchase")
        .select(col("event_type").as("v"), lit("_end").as("w"))
      val tm = graft.Checkpoints.checkpoint(
        steps.unionByName(tails)
          .groupBy(col("v"), col("w")).agg(count(lit(1)).as("n")))
      val dn = tm.groupBy(col("v")).agg(sum(col("n")).as("nv"))
      val states = graft.Checkpoints.checkpoint(
        tm.select(col("v").as("st"))
          .union(tm.select(col("w").as("st"))).distinct())
      val channels = states
        .filter(!col("st").isin("_start", "_end", "purchase"))
        .select(col("st").as("variant"))
      val variants = graft.Checkpoints.checkpoint(
        channels.union(s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("none")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("variant",
              org.apache.spark.sql.types.StringType))))))
      val domain = variants.crossJoin(states)
      var p = graft.Checkpoints.checkpoint(domain.select(col("variant"),
        col("st"), when(col("st") === "purchase", S).otherwise(0L).as("p")))
      var k = 0
      while (k < 6) {
        val m = tm.join(p, tm("w") === p("st"))
          .groupBy(col("variant"), col("v"))
          .agg(sum(tm("n") * p("p")).as("num"))
          .join(dn, "v")
          .select(col("variant"), col("v").as("st"),
            expr("num div nv").as("m"))
        val nxt = graft.Checkpoints.checkpoint(
          domain.join(m, Seq("variant", "st"), "left")
            .select(col("variant"), col("st"),
              when(col("st") === "purchase", S)
                .when(col("st") === col("variant"), 0L)
                .otherwise(coalesce(col("m"), lit(0L))).as("p")))
        graft.Checkpoints.release(p)
        p = nxt
        k += 1
      }
      val fromStart = p.filter(col("st") === "_start")
        .select(col("variant"), col("p"))
      val base = fromStart.filter(col("variant") === "none")
        .select(col("p").as("p_full"))
      fromStart.filter(col("variant") =!= "none")
        .crossJoin(broadcast(base))
        .select(col("variant").as("channel"), col("p_full"),
          col("p").as("p_removed"),
          (col("p_full") - col("p")).as("removal_effect"))
    },

    // SEQUENTIAL-PATTERN counting (the MATCH_RECOGNIZE capability,
    // scale-right): per user, the EXACT number of view < click <
    // purchase subsequences in event order — counted by the prefix-sum
    // DP (at each click, add the views strictly before it; at each
    // purchase, add the view-click pairs strictly before it), which is
    // two cumulative windows instead of the O(n³) three-way self-join
    // a naive pattern matcher runs. The count is the standard
    // subsequence-DP identity, so it is exact, and every step is
    // integer window arithmetic — replayed verbatim by the oracle.
    // Scale shape: two window passes over user-partitioned order, one
    // keyed aggregate; no joins at all.
    "q226_subsequence_count" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val before = byUser.rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("v_before", coalesce(sum(
          when(col("event_type") === "view", 1L).otherwise(0L))
          .over(before), lit(0L)))
        .withColumn("vc_contrib",
          when(col("event_type") === "click", col("v_before"))
            .otherwise(0L))
        .withColumn("vc_before",
          coalesce(sum(col("vc_contrib")).over(before), lit(0L)))
        .withColumn("vcp_contrib",
          when(col("event_type") === "purchase", col("vc_before"))
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("n_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchase"),
          sum(col("vcp_contrib")).as("n_vcp"))
    },

    // SHAPLEY-VALUE channel attribution (Shapley 1953; the marketing
    // formulation of Dalessandro et al. 2012, "Causally motivated
    // attribution") — the axiomatic complement of q225's Markov
    // removal effects: each channel's credit is its average marginal
    // contribution to conversion over all coalition orders. Value
    // function v(S) = converted users whose touched-channel set ⊆ S.
    // Scale shape: the ONLY corpus-scale stages are one groupBy user
    // (mask via bit_or) and one groupBy mask (≤2^k rows out); every
    // later relation — coalitions, (channel, coalition) pairs,
    // factorial weights — is O(2^k · k) with k bounded by the
    // event-type domain, so the combinatorics never touch the fact
    // table. All arithmetic exact: φ_i is reported ×k! (integer
    // weights |S|!·(k−1−|S|)!), so efficiency Σφ = k!·(v(full)−v(∅))
    // is an INTEGER identity the spec pins. The mask-containment
    // probe is a broadcast NLJ over the ≤2^k-row grid (intended).
    "q228_shapley_attribution" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      // channel universe: non-conversion event types, bit i by sorted
      // rank — BOUNDED collect (the event-type domain, q170 rule)
      val channels = ev.select(col("event_type"))
        .filter(col("event_type") =!= "purchase")
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      val k = channels.length
      require(k <= 16, s"Shapley coalition grid is 2^k; k=$k channels")
      val bitOf = channels.zipWithIndex
        .map { case (c, i) => c -> (1L << i) }.toMap
      val um = ev
        .select(col("user_id"), col("event_type"),
          coalesce(element_at(typedLit(bitOf), col("event_type")),
            lit(0L)).as("chbit"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
          expr("bit_or(chbit)").as("mask"))
      val cnt = um.filter(col("conv") === 1)
        .groupBy(col("mask")).agg(count(lit(1)).as("nconv"))
      val grid = (0L until (1L << k)).toDF("cltn")
      // v(S) = Σ_{mask ⊆ S} nconv — grid × post-agg masks containment
      val v = grid.join(broadcast(cnt), expr("(mask & cltn) = mask"), "left")
        .groupBy(col("cltn")).agg(coalesce(sum(col("nconv")), lit(0L)).as("v"))
      def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
      val pairs = (for {
        (c, i) <- channels.zipWithIndex
        sb <- 0L until (1L << k) if (sb & (1L << i)) == 0L
      } yield {
        val pc = java.lang.Long.bitCount(sb)
        (c, sb, sb | (1L << i), fact(pc) * fact(k - 1 - pc))
      }).toDF("channel", "s_without", "s_with", "w")
      pairs
        .join(broadcast(v.select(col("cltn").as("s_without"),
          col("v").as("v0"))), "s_without")
        .join(broadcast(v.select(col("cltn").as("s_with"),
          col("v").as("v1"))), "s_with")
        .groupBy(col("channel"))
        .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_x_kfact"))
    },

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV drift statistic, EXACT — the
    // sup-norm complement of q174's binned histogram deltas: D =
    // sup_x |F_click(x) − F_view(x)| over the event-value
    // distributions, as the integer cross-product identity
    // max|cum1·n2 − cum2·n1| (no division until the final basis
    // points, so the argmax is never blurred by float rounding). The
    // distribution grain is distinct values (one groupBy); both
    // cumulatives ride the distributed two-phase globalCumsum — never
    // a single global window; totals are 1-row broadcast scalars.
    "q246_ks_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"), col("value"))
      val byVal = ev.groupBy(col("value"))
        .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === "view", 1L).otherwise(0L)).as("c2"))
      val r1 = graft.operators.Relational.globalCumsum(
        byVal, Seq(col("value")), col("c1"), "cum1")
      val r2 = graft.operators.Relational.globalCumsum(
        r1, Seq(col("value")), col("c2"), "cum2")
      val tot = ev.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("n2"))
      r2.crossJoin(broadcast(tot))
        .select(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))
          .as("dn"))
        .agg(max(col("dn")).as("d_num"))
        .crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"), col("d_num"),
          expr("d_num * 10000 div (n1 * n2)").as("ks_x10k"))
    },

    // EXACT AUC between two score distributions via the Mann–Whitney
    // U statistic — the ranking twin of q246's KS and q163's z-test:
    // AUC = P(click value > view value) + ½P(=), computed with
    // MIDRANKS kept exact by the ×2 trick (2·ranksum contribution of
    // a tied-value block = c1·(2·cum_before + c + 1), all int64 —
    // no fractional midranks ever materialize; the ranksum bound is
    // ~2·n1·N, int64-safe through sf0.1 and far beyond — at extreme
    // corpus sizes widen the term sum to DECIMAL(38,0), the q231
    // pattern). The classifier-eval primitive (ROC area) as one
    // distinct-value groupBy + one distributed cumsum + one aggregate.
    "q247_exact_auc" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"), col("value"))
      val byVal = ev.groupBy(col("value"))
        .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === "view", 1L).otherwise(0L)).as("c2"))
      val cm = graft.operators.Relational.globalCumsum(
        byVal, Seq(col("value")), col("c1") + col("c2"), "cum_all")
      val tot = ev.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("n2"))
      cm.select((col("c1") * (lit(2) * (col("cum_all") - col("c1") - col("c2"))
          + col("c1") + col("c2") + 1)).as("rs2"))
        .agg(sum(col("rs2")).as("ranksum2"))
        .crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          (col("ranksum2") - col("n1") * (col("n1") + 1)).as("u2"),
          expr("(ranksum2 - n1 * (n1 + 1)) * 10000 div (2 * n1 * n2)")
            .as("auc_x10k"))
    },

    // CUMULATIVE-GAINS / LIFT table — the targeting-eval classic: rank
    // users by activity score (event count, user_id tie-break), bucket
    // into deciles with the exact rank formula (the q230 discipline —
    // globalCumsum, never a global window), and per decile report
    // conversion capture and lift in exact basis points. The decile
    // cumulative is the only single-partition window (10 rows).
    "q248_lift_curve" -> { (s, d) =>
      val us = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val ranked = graft.operators.Relational.globalCumsum(us,
        Seq(col("score").desc, col("user_id")), lit(1L), "rnk")
      // totals from the RANKED side: globalCumsum materialized its
      // range-partitioned input, so this is a cached-block scan —
      // aggregating `us` would re-run the full events scan + groupBy
      // a second time (the q154 lesson, r18)
      val tot = ranked.agg(count(lit(1)).as("n_total"),
        sum(col("conv")).as("total_conv"))
      val w10 = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rnk - 1) * 10 div n_total) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"),
          max(col("n_total")).as("n_total"),
          max(col("total_conv")).as("total_conv"))
        .withColumn("cum_users", sum(col("n_users")).over(w10))
        .withColumn("cum_conv", sum(col("n_conv")).over(w10))
        .select(col("decile"), col("n_users"), col("n_conv"),
          col("cum_users"), col("cum_conv"),
          expr("cum_conv * 10000 div total_conv").as("capture_x10k"),
          expr("(cum_conv * n_total * 10000) div (cum_users * total_conv)")
            .as("lift_x10k"))
    },

    // CALIBRATION-BIN table + Brier mass — the reliability-diagram
    // half of the classifier-eval trio (q247 AUC = ranking, q248 lift
    // = targeting, this = probability calibration): each user's
    // predicted conversion propensity is the exact integer click-share
    // (clicks·10⁴ div events) binned into 10 fixed-width probability
    // bins; per bin the observed conversion rate, the signed
    // calibration gap (predicted mass − observed mass, numerators
    // only — no nested floor divs to drift), and the exact Brier
    // numerator Σ(score_x10k − conv·10⁴)² (÷10⁸·n = the Brier score,
    // division left to the reader, the q66 discipline). Two keyed
    // aggregates, no joins, no windows.
    "q258_calibration_bins" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_click"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .select(expr("n_click * 10000 div n_ev").as("score"), col("conv"))
        .withColumn("bin", expr("least(score div 1000, 9) + 1"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("score")).as("pred_mass_x10k"),
          sum(col("conv")).as("n_pos"),
          sum((col("score") - col("conv") * 10000) *
            (col("score") - col("conv") * 10000)).as("brier_num"))
        .select(col("bin"), col("n_users"), col("pred_mass_x10k"),
          col("n_pos"),
          expr("n_pos * 10000 div n_users").as("obs_x10k"),
          (col("pred_mass_x10k") - col("n_pos") * 10000).as("gap_mass_x10k"),
          col("brier_num"))
    },

    // USER BURSTINESS census — the Fano factor (variance/mean) of each
    // user's active-day event counts, the classic overdispersion
    // screen: organic users are near-Poisson (Fano ≈ 1), bots and
    // scripted replays are bursty (Fano ≫ 1) or metronomic (≈ 0) —
    // a curation signal next to q77's repetition ratios. Exact
    // integers: Fano ×10⁴ = 10⁴·(n·Σc² − (Σc)²) div (n·Σc) with the
    // numerator ≥ 0 by Cauchy–Schwarz, so the floor div is safe.
    // Dispersion is over ACTIVE days by construction (inactive days
    // are absence, not zeros — the pieces ride along so a reader can
    // rebase). Two keyed aggregates, no joins.
    "q240_user_burstiness" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"),
          sum(col("c") * col("c")).as("sum_c2"))
        .select(col("user_id"), col("n_days"), col("n_events"),
          col("sum_c2"),
          expr("(n_days * sum_c2 - n_events * n_events) * 10000 " +
            "div (n_days * n_events)").as("fano_x10k"))
    },

    // Retention cohorts: users grouped by first-active day, counted by
    // distinct active-day offset — the classic triangle table. All
    // date arithmetic in integer epoch days.
    "q91_retention_cohorts" -> { (s, d) =>
      val days = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val cohort = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      days.join(cohort, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // IQR outlier curation — the numeric analogue of the q74 quality-
    // quartile text filter: per-type Tukey fences (q1/q3 exact
    // percentiles, 1.5·IQR) broadcast back over the events, tallying
    // the rows outside. The fences ride along in the output so a wrong
    // bound hash-mismatches, not just a wrong count. Float parity:
    // identical expression tree on both engines (the q45 percentile
    // precedent), no reordering.
    "q92_outlier_bounds" -> { (s, d) =>
      val fences = Tables.events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
        .select(col("event_type"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      Tables.events(s, d).join(broadcast(fences), "event_type")
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("value") < col("lo") || col("value") > col("hi"),
            lit(1))).as("n_outliers"))
    },

    // Approximate sketches (HLL++): rows-only check — sketch internals
    // are engine-specific, so no cross-engine oracle; the spec-level
    // guarantee (estimate within rsd of exact) is asserted instead.
    "q44_approx_distinct" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
    },

    // DETERMINISTIC approximate distinct count — a KMV (k-minimum-
    // values) sketch over a SQL-expressible LCG scramble, so unlike
    // HLL (q44) the estimate is bit-identical cross-engine and
    // oracle-checked: est = (k-1)·M/h_k where h_k is the k-th smallest
    // distinct hash (exact count when a group has fewer than k values).
    // The multiplier must WRAP the modulus for small ids (1103515245;
    // a non-wrapping multiply is monotone and the k-th smallest hash
    // becomes a constant independent of cardinality — measured here:
    // est 147.5 / 1525 vs true 150 / 1500 at sf0.01 / sf0.1). Null AND
    // negative ids are excluded up front: Spark ranks null h first
    // where DuckDB ranks it last, and Spark's pmod maps negatives into
    // [0, m) where DuckDB's % keeps the sign — both would silently
    // break hash parity on fixtures with such keys.
    // The sketch shape is the 100 TB point: per group only the k
    // smallest hashes survive the shuffle, like any mergeable sketch.
    "q69_kmv_distinct" -> { (s, d) =>
      val k = 64
      val m = LcgMod
      val hashed = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("user_id") >= 0)
        .select(col("event_type"), lcgHash(col("user_id")).as("h"))
        .distinct()
      val ranked = hashed.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("h"))))
      ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct_hashes"),
          max(when(col("rn") === k, col("h"))).as("hk"))
        .select(col("event_type"),
          when(col("n_distinct_hashes") < k,
              col("n_distinct_hashes").cast("double"))
            .otherwise(lit((k - 1).toDouble) * m / col("hk"))
            .as("est_users"))
    },

    // DETERMINISTIC HLL — q44's capability under a FULL cross-engine
    // oracle (Sketches.hllRegisters/hllEstimate): PolyHash buckets,
    // rho = lowest-set-bit rank (the HLL geometric observable as a
    // generated CASE chain both engines share), registers = max(rho)
    // — MERGEABLE state, 2^8 entries per group however many users
    // exist — and an EXACT scaled-long harmonic sum whose only float
    // op is one shared-literal division. The oracle replays the whole
    // sketch and hash-matches est_users: the approximate path is
    // gated as strictly as an exact query (q69's discipline, upgraded
    // from KMV order statistics to mergeable registers — max-merge ≡
    // union is the SketchesSpec property). exact_users rides along so
    // the estimate error is visible in the output itself.
    "q133_hll_distinct" -> { (s, d) =>
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val regs = graft.operators.Sketches.hllRegisters(
        ev.select(col("event_type"), col("user_id").cast("string").as("k")),
        Seq("event_type"), col("k"))
      val est = graft.operators.Sketches.hllEstimate(regs, Seq("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_filled"),
          col("est").as("est_users"), col("exact_users"))
    },

    // PER-WINDOW distinct-user sketch — q133's HLL at the tumbling-day
    // grain streams aggregate at (the q123 windowing convention), with
    // the SAME full-replay oracle per (window, event_type) group. The
    // register grain is (window, type, bucket): a day's registers
    // close when its watermark passes, so streaming state is bounded
    // per window however many users arrive — and max-merge register
    // semantics make the stream twin (EventStreams.hllRegisterStream)
    // EXACTLY equal under any batch split, arrival order, or even
    // redelivery (max is idempotent where q122's additive counters are
    // not — StreamingSpec asserts bit-equality including a replayed
    // batch).
    "q134_window_hll_distinct" -> { (s, d) =>
      // checkpointed: two consumers: registers + exact
      val ev = graft.Checkpoints.checkpoint(Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(unix_timestamp(
            window(col("ts"), "1 day").getField("start")).as("ws"),
          col("event_type"), col("user_id").cast("string").as("k"),
          col("user_id")))
      val regs = graft.operators.Sketches.hllRegisters(
        ev, Seq("ws", "event_type"), col("k"))
      val est = graft.operators.Sketches.hllEstimate(
        regs, Seq("ws", "event_type"))
      val exact = ev.groupBy(col("ws"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, Seq("ws", "event_type"))
        .select(col("ws").as("win_start_s"), col("event_type"),
          col("n_filled"), col("est").as("est_users"), col("exact_users"))
    },

    // PER-WINDOW quantile sketch — the q120 mergeable q-digest at the
    // grain streams need it: one O(k) digest per tumbling day window,
    // merged deterministically-bounded under any shuffle order
    // (EventStreams.windowQuantiles is the same agg incrementally;
    // StreamingSpec holds stream ≡ bound). Like q120, the emitted row
    // carries the exact ε-window around each target rank plus WHETHER
    // the sketch answer landed inside — the oracle replays the windows
    // per group and expects within = TRUE, so a bound break is a hash
    // mismatch. The per-window rank here is the CHECK harness riding
    // day-grain groups (count grows with time, not data volume); the
    // sketch agg alone is the scale path.
    "q123_window_quantile_sketch" -> { (s, d) =>
      val probs = Seq(0.5, 0.9)
      val agg = graft.functions.QDigestAgg(16, 4096, probs)
      // checkpointed: three consumers: sketch, ranks, targets
      val ev = graft.Checkpoints.checkpoint(Tables.events(s, d)
        .select(window(col("ts"), "1 day").getField("start").as("win"),
          floor(col("value") * 100).cast("long").as("v")))
      val sk = ev.groupBy(col("win"))
        .agg(agg(col("v")).as("qs"), count(lit(1)).as("n"))
      val targets = sk.select(col("win"), col("n"),
          explode(array(probs.zipWithIndex.map { case (p, i) =>
            struct(lit(p).as("p"), lit(i + 1).as("pi"))
          }: _*)).as("t"))
        .select(col("win"), col("n"), col("t.p").as("p"),
          col("t.pi").as("pi"))
        .withColumn("target_rank",
          greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
        .withColumn("w",
          ceil(lit(agg.declaredEps) * col("n")).cast("long"))
        .withColumn("lo_rank",
          greatest(lit(1L), col("target_rank") - col("w")))
        .withColumn("hi_rank",
          least(col("n"), col("target_rank") + col("w") + 1))
        .withColumn("hi_open", col("target_rank") + col("w") + 1 > col("n"))
      val rnk = ev.withColumn("rnk", row_number().over(
          Window.partitionBy(col("win")).orderBy(col("v"))))
        .select(col("win").as("wr"), col("v"), col("rnk"))
      val lo = targets.join(rnk,
          col("win") === col("wr") && col("lo_rank") === col("rnk"))
        .select(col("win"), col("p"), col("pi"), col("n"),
          col("target_rank"), col("hi_open"), col("v").as("v_lo"))
      val hi = targets
        .select(col("win").as("w2"), col("p").as("p2"), col("hi_rank"))
        .join(rnk, col("w2") === col("wr") && col("hi_rank") === col("rnk"))
        .select(col("w2"), col("p2"), col("v").as("v_hi"))
      lo.join(hi, col("win") === col("w2") && col("p") === col("p2"))
        .join(sk.select(col("win").as("w3"), col("qs")),
          col("win") === col("w3"))
        .select(unix_timestamp(col("win")).as("win_start_s"), col("p"),
          col("n").as("n_rows"), col("target_rank"), col("v_lo"),
          col("v_hi"),
          (element_at(col("qs"), col("pi").cast("int")) >= col("v_lo") &&
            (col("hi_open") ||
              element_at(col("qs"), col("pi").cast("int")) <= col("v_hi")))
            .as("within"))
    }
  )

  /** q225 oracle (see the map entry comment). */
  private lazy val markovAttributionSql: String = {
    val S = "1000000000"
    def round(k: Int) =
      s"""mm$k AS MATERIALIZED (SELECT p.variant, tm.v AS st,
         |    sum(tm.n * p.p) // dn.nv AS m
         |  FROM tm JOIN mp${k - 1} p ON tm.w = p.st
         |          JOIN dn ON tm.v = dn.v
         |  GROUP BY p.variant, tm.v, dn.nv),
         |mp$k AS MATERIALIZED (SELECT g.variant, g.st,
         |    CASE WHEN g.st = 'purchase' THEN $S
         |         WHEN g.st = g.variant THEN 0
         |         ELSE coalesce(mm$k.m, 0) END AS p
         |  FROM dom g LEFT JOIN mm$k
         |    ON g.variant = mm$k.variant AND g.st = mm$k.st)""".stripMargin
    s"""WITH mev AS (SELECT user_id, event_id, event_type, us,
       |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
       |        ELSE 0 END) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS jid
       |  FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |        FROM events) ev0),
       |mst AS (SELECT coalesce(lag(event_type) OVER (
       |      PARTITION BY user_id, jid ORDER BY us, event_id),
       |      '_start') AS v,
       |    event_type AS w
       |  FROM mev),
       |mtl AS (SELECT event_type AS v, '_end' AS w FROM (
       |    SELECT event_type, row_number() OVER (
       |      PARTITION BY user_id, jid
       |      ORDER BY us DESC, event_id DESC) AS rdesc
       |    FROM mev)
       |  WHERE rdesc = 1 AND event_type <> 'purchase'),
       |tm AS MATERIALIZED (SELECT v, w, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT v, w FROM mst UNION ALL SELECT v, w FROM mtl)
       |  GROUP BY 1, 2),
       |dn AS (SELECT v, CAST(sum(n) AS BIGINT) AS nv FROM tm GROUP BY 1),
       |sts AS (SELECT DISTINCT st FROM (
       |    SELECT v AS st FROM tm UNION SELECT w AS st FROM tm)),
       |vr AS (SELECT st AS variant FROM sts
       |       WHERE st NOT IN ('_start', '_end', 'purchase')
       |       UNION ALL SELECT 'none'),
       |dom AS MATERIALIZED (SELECT variant, st FROM vr CROSS JOIN sts),
       |mp0 AS (SELECT variant, st,
       |    CASE WHEN st = 'purchase' THEN $S ELSE 0 END AS p FROM dom),
       |${(1 to 6).map(round).mkString(",\n")},
       |fs AS (SELECT variant, p FROM mp6 WHERE st = '_start'),
       |bs AS (SELECT p AS p_full FROM fs WHERE variant = 'none')
       |SELECT fs.variant AS channel, CAST(bs.p_full AS BIGINT) AS p_full,
       |  CAST(fs.p AS BIGINT) AS p_removed,
       |  CAST(bs.p_full - fs.p AS BIGINT) AS removal_effect
       |FROM fs CROSS JOIN bs WHERE fs.variant <> 'none'""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q123: the q120 ε-window replay, PARTITIONED per day window. The
    // ε literal (QDigestAgg(16, 4096).declaredEps = 1/64) is dyadic,
    // so ceil(ε·n) is bit-equal on both engines; v_hi joins on
    // least(n, tr+w+1), mirroring the Spark side's clamped hi_rank.
    "q123_window_quantile_sketch" -> {
      val eps = graft.functions.QDigestAgg(16, 4096, Nil).declaredEps
      s"""WITH t AS (SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
         |             AS ws, CAST(floor(value * 100) AS BIGINT) AS v
         |           FROM events),
         |n AS (SELECT ws, count(*) AS c FROM t GROUP BY 1),
         |r AS (SELECT ws, v,
         |        row_number() OVER (PARTITION BY ws ORDER BY v) AS rnk
         |      FROM t),
         |ps AS (SELECT unnest([(0.5)::DOUBLE, (0.9)::DOUBLE]) AS p),
         |tg AS (SELECT ws, p, c,
         |    greatest(1, CAST(ceil(p * c) AS BIGINT)) AS target_rank,
         |    CAST(ceil(($eps)::DOUBLE * c) AS BIGINT) AS w
         |  FROM n CROSS JOIN ps)
         |SELECT tg.ws AS win_start_s, tg.p, tg.c AS n_rows,
         |  tg.target_rank, lo.v AS v_lo, hi.v AS v_hi, TRUE AS within
         |FROM tg
         |JOIN r lo ON lo.ws = tg.ws
         |         AND lo.rnk = greatest(1, tg.target_rank - tg.w)
         |JOIN r hi ON hi.ws = tg.ws
         |         AND hi.rnk = least(tg.c, tg.target_rank + tg.w + 1)""".stripMargin
    },

    // list_reduce without an init uses the first element — exactly
    // e_0 = x_0; floor division (//) matches the Scala floorDiv
    "q115_user_ewma" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(list_reduce(
        |    list(CAST(floor(value * 100) AS BIGINT)
        |         ORDER BY epoch_us(ts), event_id),
        |    (acc, v) -> (1 * v + 3 * acc) // 4) AS BIGINT) AS ewma_cents
        |FROM events GROUP BY user_id""".stripMargin,

    "q69_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
        |             ${lcgHashSql("user_id")} AS h FROM events
        |           WHERE user_id IS NOT NULL AND user_id >= 0),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |a AS (SELECT event_type, count(*) AS n,
        |        max(CASE WHEN rn = 64 THEN h END) AS hk
        |      FROM r GROUP BY 1)
        |SELECT event_type,
        |  CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |       ELSE 63.0 * 2147483647 / hk END AS est_users
        |FROM a""".stripMargin,

    // q181: the q85 staged firsts + per-stage nearest-rank median
    // (per-group window rank = the group-offset global rank)
    "q181_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS click_us
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us >= view_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS purchase_us
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us >= click_us
        |      GROUP BY 1),
        |dl AS (SELECT 'view_to_click' AS stage, c.user_id,
        |         click_us - view_us AS delay_us
        |       FROM c JOIN v USING (user_id)
        |       UNION ALL
        |       SELECT 'click_to_purchase', p.user_id,
        |         purchase_us - click_us
        |       FROM p JOIN c USING (user_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY stage
        |         ORDER BY delay_us, user_id) AS rn,
        |         count(*) OVER (PARTITION BY stage) AS n FROM dl),
        |med AS (SELECT stage, delay_us AS med_delay_us FROM r
        |        WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |st AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
        |         CAST(min(delay_us) AS BIGINT) AS min_delay_us,
        |         CAST(max(delay_us) AS BIGINT) AS max_delay_us
        |       FROM dl GROUP BY 1)
        |SELECT st.stage, n_users, CAST(med_delay_us AS BIGINT)
        |    AS med_delay_us, min_delay_us, max_delay_us
        |FROM st JOIN med USING (stage)""".stripMargin,

    // q177: the same negated-axis ASOF (DuckDB-native) + deadline
    "q177_time_to_convert" ->
      """WITH c AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tc
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type = 'click'),
        |p AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tp
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type = 'purchase'),
        |j AS (SELECT cc.tc, pp.tp
        |      FROM (SELECT *, -tc AS neg_tc FROM c) cc
        |      ASOF LEFT JOIN (SELECT *, -tp AS neg_tp FROM p) pp
        |        ON cc.user_id = pp.user_id AND cc.neg_tc >= pp.neg_tp)
        |SELECT CAST(count(*) AS BIGINT) AS n_clicks,
        |  CAST(sum(CASE WHEN tp IS NOT NULL AND tp - tc <= 3600
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(sum(CASE WHEN tp IS NOT NULL AND tp - tc <= 3600
        |                THEN tp - tc ELSE 0 END) AS BIGINT)
        |    AS sum_delay_s
        |FROM j""".stripMargin,

    // q173: the same chained nearest-rank medians (per-group window
    // rank = the group-offset global rank) and the 3·MAD fence
    "q173_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY cents, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type, cents AS med FROM r1
        |        WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |dv AS (SELECT e.event_type, e.event_id, med.med,
        |         abs(e.cents - med.med) AS dev
        |       FROM e JOIN med USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY dev, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n FROM dv),
        |mad AS (SELECT event_type, dev AS mad FROM r2
        |        WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(d.med) AS BIGINT) AS med_cents,
        |  CAST(min(mad.mad) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dv d JOIN mad USING (event_type) GROUP BY 1""".stripMargin,

    // q174: the same period split, equi-width bins, and rational
    // share delta
    "q174_dist_drift" ->
      """WITH e AS (SELECT
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT min(day) AS d0, min(cents) AS lo,
        |             max(cents) AS hi FROM e),
        |b AS (SELECT CASE WHEN day < d0 + 15 THEN 'a' ELSE 'b' END
        |        AS period,
        |        (cents - lo) * 8 // (hi - lo + 1) AS bin FROM e, s),
        |c AS (SELECT bin,
        |        CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_b
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
        |             CAST(sum(n_b) AS BIGINT) AS t_b FROM c)
        |SELECT CAST(bin AS BIGINT) AS bin, n_a, n_b, t_a, t_b,
        |  n_a * t_b - n_b * t_a AS delta_scaled
        |FROM c, t""".stripMargin,

    // q186: the same deterministic corruption; DuckDB's own parser
    // judges validity (json_valid), so both engines' parsers must
    // agree row by row
    "q186_malformed_census" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 17 = 0 THEN concat('x', props)
        |         ELSE props END AS payload
        |  FROM events),
        |p AS (SELECT event_type,
        |    CASE WHEN json_valid(payload)
        |         THEN CAST(json_extract(payload, '$.k') AS BIGINT)
        |    END AS k
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_malformed,
        |  CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k_valid
        |FROM p GROUP BY 1""".stripMargin,

    // q171: the same user-day dedup, 7-slot contribution explode, and
    // per-existing-day distinct count
    "q171_rolling_actives" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM d),
        |c AS (SELECT user_id, day + k.k AS day
        |      FROM d, (SELECT unnest(generate_series(0, 6)) AS k) k)
        |SELECT c.day, CAST(count(DISTINCT user_id) AS BIGINT)
        |  AS actives_7d
        |FROM c JOIN days ON c.day = days.day GROUP BY 1""".stripMargin,

    // q172: DuckDB-native ASOF replay of the last-touch credit
    "q172_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS touch_ts,
        |        min(event_type) AS touch_type
        |      FROM events WHERE user_id IS NOT NULL
        |        AND event_type IN ('view', 'click')
        |      GROUP BY 1, 2),
        |j AS (SELECT p.event_id, p.vc, t.touch_type
        |      FROM p ASOF LEFT JOIN t
        |        ON p.user_id = t.user_id AND p.ts >= t.touch_ts)
        |SELECT coalesce(touch_type, 'none') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(vc) AS BIGINT) AS value_cents
        |FROM j GROUP BY 1""".stripMargin,

    // q163: identical moments and the identical-op-order z expression
    "q163_ab_test" ->
      s"""WITH per AS (SELECT user_id % 2 AS variant,
         |    count(DISTINCT user_id) AS n_users,
         |    count(DISTINCT CASE WHEN event_type = 'purchase'
         |                        AND value > 100 THEN user_id END) AS n_converted
         |  FROM events WHERE user_id IS NOT NULL AND user_id >= 0
         |  GROUP BY 1),
         |a AS (SELECT n_users AS na, n_converted AS ka FROM per
         |      WHERE variant = 0),
         |b AS (SELECT n_users AS nb, n_converted AS kb FROM per
         |      WHERE variant = 1),
         |j AS (SELECT CAST(na AS BIGINT) AS na, CAST(ka AS BIGINT) AS ka,
         |        CAST(nb AS BIGINT) AS nb, CAST(kb AS BIGINT) AS kb
         |      FROM a, b),
         |p AS (SELECT *, CAST(ka + kb AS DOUBLE) / (na + nb) AS pp FROM j)
         |SELECT na, ka, nb, kb,
         |  round((CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb) /
         |    sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 4) AS z_score
         |FROM p""".stripMargin,

    // q159: the same epoch-day mod-7 arithmetic; floor(epoch(ts))
    // because DuckDB's CAST(double AS BIGINT) rounds where Spark's
    // unix_timestamp truncates.
    "q159_dow_seasonality" ->
      s"""WITH e AS (SELECT event_type,
         |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 AS dow_idx,
         |    CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |d AS (SELECT event_type, CAST(dow_idx AS BIGINT) AS dow_idx,
         |        CAST(count(*) AS BIGINT) AS n_events,
         |        CAST(sum(cents) AS BIGINT) AS value_cents
         |      FROM e GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
         |      FROM events GROUP BY 1)
         |SELECT d.event_type, d.dow_idx, d.n_events, t.n_type,
         |  d.value_cents
         |FROM d JOIN t USING (event_type)""".stripMargin,

    // q133: the ENTIRE HLL replayed — same PolyHash over the decimal
    // id string (the q122 wordHash twin), same generated
    // lowest-set-bit CASE chain, same exact-long harmonic sum; the one
    // float division uses the SAME literal numerator Spark embeds
    // (Sketches.hllAlphaNum.toString). DuckDB sums BIGINTs as
    // HUGEINT — the CAST back to DOUBLE lands on the identical value.
    "q133_hll_distinct" -> {
      val rBits = graft.operators.Sketches.hllRestBits(8)
      val rCap = rBits + 1
      val hash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(CAST(user_id AS VARCHAR), ''), " +
        "c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a * 31 + x) % 1000000007)"
      val Seq(mix1, mix2, mix3) = graft.operators.Sketches.mix31Sql
      val rho = graft.operators.Sketches.lowestSetBitRankSql("rest", rBits)
      s"""WITH h AS (SELECT event_type, $hash AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |m1 AS (SELECT event_type, ${mix1("h")} AS x1 FROM h),
         |m2 AS (SELECT event_type, ${mix2("x1")} AS x2 FROM m1),
         |mx AS (SELECT event_type, ${mix3("x2")} AS x FROM m2),
         |b AS (SELECT event_type, x % 256 AS bucket, x // 256 AS rest
         |      FROM mx),
         |r AS (SELECT event_type, bucket, max($rho) AS reg
         |      FROM b GROUP BY 1, 2),
         |a AS (SELECT event_type, count(*) AS filled,
         |        sum(CAST(1 AS BIGINT) << ($rCap - reg)) AS sf
         |      FROM r GROUP BY 1),
         |e AS (SELECT event_type,
         |        count(DISTINCT user_id) AS exact_users
         |      FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         |SELECT a.event_type, CAST(filled AS BIGINT) AS n_filled,
         |  round(${graft.operators.Sketches.hllAlphaNum(8)} /
         |    CAST(sf + (256 - filled) * ${1L << rCap} AS DOUBLE), 3)
         |    AS est_users,
         |  CAST(exact_users AS BIGINT) AS exact_users
         |FROM a JOIN e USING (event_type)""".stripMargin
    },

    // q134: the q133 replay per (day window, event_type); epoch ∘
    // date_trunc is the established twin of Spark's unix_timestamp ∘
    // window (q123).
    "q134_window_hll_distinct" -> {
      val rBits = graft.operators.Sketches.hllRestBits(8)
      val rCap = rBits + 1
      val hash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(CAST(user_id AS VARCHAR), ''), " +
        "c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a * 31 + x) % 1000000007)"
      val Seq(mix1, mix2, mix3) = graft.operators.Sketches.mix31Sql
      val rho = graft.operators.Sketches.lowestSetBitRankSql("rest", rBits)
      s"""WITH base AS (SELECT
         |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws,
         |    event_type, user_id
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (SELECT ws, event_type, $hash AS h FROM base),
         |m1 AS (SELECT ws, event_type, ${mix1("h")} AS x1 FROM h),
         |m2 AS (SELECT ws, event_type, ${mix2("x1")} AS x2 FROM m1),
         |mx AS (SELECT ws, event_type, ${mix3("x2")} AS x FROM m2),
         |b AS (SELECT ws, event_type, x % 256 AS bucket, x // 256 AS rest
         |      FROM mx),
         |r AS (SELECT ws, event_type, bucket, max($rho) AS reg
         |      FROM b GROUP BY 1, 2, 3),
         |a AS (SELECT ws, event_type, count(*) AS filled,
         |        sum(CAST(1 AS BIGINT) << ($rCap - reg)) AS sf
         |      FROM r GROUP BY 1, 2),
         |e AS (SELECT ws, event_type,
         |        count(DISTINCT user_id) AS exact_users
         |      FROM base GROUP BY 1, 2)
         |SELECT a.ws AS win_start_s, a.event_type,
         |  CAST(filled AS BIGINT) AS n_filled,
         |  round(${graft.operators.Sketches.hllAlphaNum(8)} /
         |    CAST(sf + (256 - filled) * ${1L << rCap} AS DOUBLE), 3)
         |    AS est_users,
         |  CAST(exact_users AS BIGINT) AS exact_users
         |FROM a JOIN e ON a.ws = e.ws AND a.event_type = e.event_type""".stripMargin
    },

    "q92_outlier_bounds" ->
      """WITH q AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |b AS (SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo,
        |             q3 + (q3 - q1) * 1.5 AS hi FROM q)
        |SELECT e.event_type, b.lo, b.hi,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (WHERE e.value < b.lo OR e.value > b.hi)
        |    AS BIGINT) AS n_outliers
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q90_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |l AS (SELECT event_type AS next,
        |        coalesce(lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id), '_start') AS prev
        |      FROM e)
        |SELECT prev, next, CAST(count(*) AS BIGINT) AS n
        |FROM l GROUP BY 1, 2""".stripMargin,

    // q226: the same two cumulative windows and the same DP identity.
    "q226_subsequence_count" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |a AS (SELECT *, coalesce(sum(CASE WHEN event_type = 'view'
        |          THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS v_before
        |      FROM e),
        |b AS (SELECT *, CASE WHEN event_type = 'click' THEN v_before
        |        ELSE 0 END AS vc_contrib FROM a),
        |c AS (SELECT *, coalesce(sum(vc_contrib) OVER (
        |        PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS vc_before
        |      FROM b)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN vc_before
        |    ELSE 0 END) AS BIGINT) AS n_vcp
        |FROM c GROUP BY 1""".stripMargin,

    // q247: the same tied-block midrank identity over one ordered
    // cumulative of the merged counts.
    "q247_exact_auc" ->
      """WITH e AS (SELECT event_type AS g, value FROM events
        |           WHERE event_type IN ('click', 'view')),
        |bv AS (SELECT value,
        |    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM e GROUP BY 1),
        |cm AS (SELECT c1, c2,
        |    sum(c1 + c2) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_all
        |  FROM bv),
        |t AS (SELECT sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n2
        |      FROM e),
        |rs AS (SELECT sum(c1 * (2 * (cum_all - c1 - c2) + c1 + c2 + 1))
        |         AS ranksum2 FROM cm)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(ranksum2 - n1 * (n1 + 1) AS BIGINT) AS u2,
        |  CAST((ranksum2 - n1 * (n1 + 1)) * 10000 // (2 * n1 * n2)
        |    AS BIGINT) AS auc_x10k
        |FROM rs, t""".stripMargin,

    // q248: the same exact-rank deciles and integer capture/lift.
    "q248_lift_curve" ->
      """WITH us AS (SELECT user_id, count(*) AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_total, sum(conv) AS total_conv
        |      FROM us),
        |r AS (SELECT conv,
        |    row_number() OVER (ORDER BY score DESC, user_id) AS rnk
        |  FROM us),
        |dc AS (SELECT ((rnk - 1) * 10 // n_total) + 1 AS decile,
        |    count(*) AS n_users, sum(conv) AS n_conv,
        |    max(n_total) AS n_total, max(total_conv) AS total_conv
        |  FROM r, t GROUP BY 1),
        |cu AS (SELECT *,
        |    sum(n_users) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_users,
        |    sum(n_conv) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_conv
        |  FROM dc)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_conv AS BIGINT) AS n_conv,
        |  CAST(cum_users AS BIGINT) AS cum_users,
        |  CAST(cum_conv AS BIGINT) AS cum_conv,
        |  CAST(cum_conv * 10000 // total_conv AS BIGINT)
        |    AS capture_x10k,
        |  CAST((cum_conv * n_total * 10000) // (cum_users * total_conv)
        |    AS BIGINT) AS lift_x10k
        |FROM cu""".stripMargin,

    // q258: the same integer click-share score, fixed-width bins, and
    // exact Brier numerator.
    "q258_calibration_bins" ->
      """WITH us AS (SELECT user_id, count(*) AS n_ev,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS n_click,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |sc AS (SELECT n_click * 10000 // n_ev AS score, conv FROM us),
        |b AS (SELECT least(score // 1000, 9) + 1 AS bin, score, conv
        |      FROM sc)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(score) AS BIGINT) AS pred_mass_x10k,
        |  CAST(sum(conv) AS BIGINT) AS n_pos,
        |  CAST(sum(conv) * 10000 // count(*) AS BIGINT) AS obs_x10k,
        |  CAST(sum(score) - sum(conv) * 10000 AS BIGINT)
        |    AS gap_mass_x10k,
        |  CAST(sum((score - conv * 10000) * (score - conv * 10000))
        |    AS BIGINT) AS brier_num
        |FROM b GROUP BY 1""".stripMargin,

    // q246: the same distinct-value grain, single ordered cumulative,
    // and integer cross-product sup-norm.
    "q246_ks_drift" ->
      """WITH e AS (SELECT event_type AS g, value FROM events
        |           WHERE event_type IN ('click', 'view')),
        |bv AS (SELECT value,
        |    sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM e GROUP BY 1),
        |cm AS (SELECT value,
        |    sum(c1) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM bv),
        |t AS (SELECT sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n1,
        |             sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS n2
        |      FROM e),
        |m AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) AS d_num FROM cm, t)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(d_num AS BIGINT) AS d_num,
        |  CAST(d_num * 10000 // (n1 * n2) AS BIGINT) AS ks_x10k
        |FROM m, t""".stripMargin,

    // q240: the same two keyed aggregates and the same scaled Fano.
    "q240_user_burstiness" ->
      """WITH dd AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT user_id, count(*) AS n_days, sum(c) AS n_events,
        |    sum(c * c) AS sum_c2
        |  FROM dd GROUP BY 1)
        |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(sum_c2 AS BIGINT) AS sum_c2,
        |  CAST((n_days * sum_c2 - n_events * n_events) * 10000
        |    // (n_days * n_events) AS BIGINT) AS fano_x10k
        |FROM g""".stripMargin,

    // q228: the same chain — channel bits by sorted rank, per-user
    // mask via bit_or, v(S) from exact-mask counts, coalitions by the
    // recursive subset closure, factorial weights as a literal table.
    "q228_shapley_attribution" ->
      """WITH RECURSIVE ch AS (
        |  SELECT event_type AS c,
        |    row_number() OVER (ORDER BY event_type) - 1 AS i
        |  FROM (SELECT DISTINCT event_type FROM events
        |        WHERE event_type <> 'purchase')),
        |kk AS (SELECT count(*) AS k FROM ch),
        |um AS (SELECT e.user_id,
        |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv,
        |    bit_or(CASE WHEN ch.i IS NOT NULL
        |      THEN (1::BIGINT << ch.i) ELSE 0 END) AS mask
        |  FROM events e LEFT JOIN ch ON e.event_type = ch.c
        |  GROUP BY e.user_id),
        |cnt AS (SELECT mask, count(*) AS nconv FROM um
        |        WHERE conv = 1 GROUP BY 1),
        |co AS (SELECT 0::BIGINT AS cltn
        |       UNION
        |       SELECT cltn | (1::BIGINT << i) FROM co, ch),
        |vv AS (SELECT co.cltn, coalesce(sum(cnt.nconv), 0) AS v
        |  FROM co LEFT JOIN cnt ON (cnt.mask & co.cltn) = cnt.mask
        |  GROUP BY 1),
        |fct(j, f) AS (VALUES (0, 1), (1, 1), (2, 2), (3, 6), (4, 24),
        |              (5, 120), (6, 720), (7, 5040)),
        |pr AS (SELECT ch.c AS channel, co.cltn AS s0,
        |    co.cltn | (1::BIGINT << ch.i) AS s1, f0.f * f1.f AS w
        |  FROM ch JOIN co ON (co.cltn & (1::BIGINT << ch.i)) = 0
        |  CROSS JOIN kk
        |  JOIN fct f0 ON f0.j = bit_count(co.cltn)
        |  JOIN fct f1 ON f1.j = kk.k - 1 - bit_count(co.cltn))
        |SELECT pr.channel,
        |  CAST(sum(pr.w * (v1.v - v0.v)) AS BIGINT) AS phi_x_kfact
        |FROM pr JOIN vv v0 ON v0.cltn = pr.s0
        |        JOIN vv v1 ON v1.cltn = pr.s1
        |GROUP BY 1""".stripMargin,

    // q225: journey split, matrix build, and all 6 absorption rounds
    // unrolled per (variant, state) — every CASE pin and floor div the
    // same as the Spark loop. Round CTEs MATERIALIZED (each references
    // its predecessor through a join + the domain grid).
    "q225_markov_attribution" -> markovAttributionSql,

    "q91_retention_cohorts" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT CAST(c.cohort_day AS BIGINT) AS cohort_day,
        |  CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM d JOIN c ON d.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q85_funnel_stages" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, CAST(min(us) AS BIGINT) AS view_us FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS click_us
        |      FROM e JOIN v ON e.user_id = v.user_id AND e.us >= v.view_us
        |      WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, CAST(min(us) AS BIGINT) AS purchase_us
        |      FROM e JOIN c ON e.user_id = c.user_id AND e.us >= c.click_us
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id, v.view_us, c.click_us, p.purchase_us
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,

    "q81_interval_attribution" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us, value FROM events),
        |o AS (SELECT event_id AS outage_id, epoch_us(ts) AS ws
        |      FROM events WHERE event_type = 'error')
        |SELECT o.outage_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM o JOIN e ON e.us >= o.ws AND e.us < o.ws + 600000000
        |GROUP BY 1""".stripMargin,

    "q30_events_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2)
        |    AS avg_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q64_coevent_pairs" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events)
        |SELECT e1.user_id, e1.event_type AS a, e2.event_type AS b,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(max(epoch_us(greatest(e1.ts, e2.ts))) AS BIGINT)
        |    AS last_pair_us
        |FROM e e1 JOIN e e2 ON e1.user_id = e2.user_id
        |  AND e2.ts BETWEEN e1.ts - INTERVAL 1 HOUR
        |                AND e1.ts + INTERVAL 1 HOUR
        |  AND e1.event_type < e2.event_type
        |GROUP BY 1, 2, 3""".stripMargin,

    "q31_tumbling_hour" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q32_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |      FROM e),
        |f AS (SELECT user_id, event_id, us,
        |        CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS flag
        |      FROM l),
        |s AS (SELECT user_id, us,
        |        CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(us) AS BIGINT) AS sess_start_us,
        |  CAST(max(us) AS BIGINT) AS sess_end_us
        |FROM s GROUP BY 1, 2""".stripMargin,

    // q193: the q32 session chain, the error-hour incidents, and the
    // plain theta overlap join (the oracle can afford the nested loop
    // the engine buckets away)
    "q193_session_incident_overlap" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |l AS (SELECT user_id, event_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |          AS prev
        |      FROM e),
        |f AS (SELECT user_id, event_id, us,
        |        CASE WHEN prev IS NULL OR us - prev > 1800000000
        |             THEN 1 ELSE 0 END AS flag
        |      FROM l),
        |s AS (SELECT user_id, us,
        |        CAST(sum(flag) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS session_idx
        |      FROM f),
        |ses AS (SELECT user_id, session_idx,
        |          CAST(min(us) AS BIGINT) AS s_st,
        |          CAST(max(us) + 1 AS BIGINT) AS s_en
        |        FROM s GROUP BY 1, 2),
        |inc AS (SELECT us // 3600000000 AS hr,
        |          CAST(count(*) AS BIGINT) AS n_errors
        |        FROM e WHERE event_type = 'error'
        |        GROUP BY 1 HAVING count(*) >= 2),
        |inw AS (SELECT CAST(hr * 3600000000 AS BIGINT) AS i_st,
        |          CAST(hr * 3600000000 + 3600000000 AS BIGINT) AS i_en,
        |          n_errors
        |        FROM inc)
        |SELECT ses.user_id, ses.session_idx,
        |  ses.s_st AS sess_start_us, inw.i_st AS incident_start_us,
        |  inw.n_errors,
        |  CAST(least(ses.s_en, inw.i_en) - greatest(ses.s_st, inw.i_st)
        |    AS BIGINT) AS overlap_us
        |FROM ses JOIN inw ON ses.s_st < inw.i_en AND inw.i_st < ses.s_en"""
        .stripMargin,

    "q33_orders_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin,

    "q47_pivot_user_events" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q48_unpivot_part" ->
      """SELECT p_partkey, 'p_size' AS attribute, CAST(p_size AS DOUBLE) AS value
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', p_retailprice FROM part""".stripMargin,

    // each event falls in windows starting at floor(t/1800)*1800 and
    // that minus 1800 (1-hour window, 30-min slide, epoch-aligned)
    "q43_sliding_hour" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS slot
        |  FROM events),
        |w AS (SELECT event_type, slot AS win_start_s FROM e
        |      UNION ALL
        |      SELECT event_type, slot - 1800 FROM e)
        |SELECT win_start_s, event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin
  )
}
