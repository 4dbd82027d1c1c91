package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables

/** Core relational surface: scans, predicates, joins (inner/semi/anti/
  * outer/cross/theta), aggregations, windows, set ops — the reference's
  * §2.1-2.7 operator families re-expressed over the driver testdata
  * star schema. Every query has a DuckDB oracle; money columns are
  * rounded to 2 decimals on both sides so double-summation order can
  * never flip the hash.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The deterministic orders changelog shared by q129/q131/q180:
    * U1 (+10) on keys %7, U2 (+20) on keys %21, deletes on %11,
    * key-shifted inserts on %13 — every value derived from the base
    * table, so both engines rebuild the identical change stream. */
  private def ordersChangelog(
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val upd1 = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U1").as("o_orderstatus"),
        round(dec(col("o_totalprice")) + dec(lit(10)), 2).cast("double")
          .as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        lit(1L).as("seq"), lit("U").as("op"))
    val upd2 = base.filter(col("o_orderkey") % 21 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U2").as("o_orderstatus"),
        round(dec(col("o_totalprice")) + dec(lit(20)), 2).cast("double")
          .as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        lit(2L).as("seq"), lit("U").as("op"))
    val dels = base.filter(col("o_orderkey") % 11 === 0)
      .select(base.columns.map(col) :+ lit(3L).as("seq")
        :+ lit("D").as("op"): _*)
    val ins = base.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey")
        +: base.columns.tail.map(col)
        :+ lit(1L).as("seq") :+ lit("I").as("op"): _*)
    upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
  }

  // dec/ts: see graft.queries package object (oracle-parity rules)

  /** The star schema's declared FK edges — (name, child, childKey,
    * parent, parentKey) — shared by q219's census and its oracle so
    * the two lists can never drift. */
  private val fkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
      "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
      "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
      "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
      "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
      "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
      "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
      "region", "r_regionkey"))

  /** The q232 CUSUM readout from a (o_orderdate, rev_cents) day-grain
    * relation — shared by the batch query and StreamRun's incremental
    * drift monitor (which accumulates the day grain additively across
    * micro-batches), so the two paths can never drift. */
  private[graft] def cusumReadout(daily: DataFrame): DataFrame = {
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("rev_cents")).as("total"))
    val wd = Window.orderBy(col("o_orderdate"))
    val snx = graft.Checkpoints.checkpoint(
      daily.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(wd))
        .withColumn("cum", sum(col("rev_cents")).over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("o_orderdate"), col("rev_cents"),
          (col("n") * col("cum") - col("i") * col("total")).as("snx")))
    val mx = snx.agg(max(abs(col("snx"))).as("mx"))
    snx.crossJoin(broadcast(mx))
      .select(col("o_orderdate"), col("rev_cents"), col("snx"),
        when(abs(col("snx")) === col("mx"), 1L).otherwise(0L)
          .as("at_peak"))
  }

  /** Customer revenue in exact cents, ranked ASCENDING by (cents,
    * custkey) via the distributed two-phase cumsum — the shared spine
    * of q230 (Lorenz deciles) and q231 (Gini). Cheap enough (one
    * groupBy + one range shuffle) that each consumer builds its own;
    * the DuckDB twin is one row_number window. */
  private def custRevenueRanked(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
    Relational.globalCumsum(rev, Seq(col("cents"), col("o_custkey")),
      lit(1L), "rnk")
  }

  /** Affiliations_FC-shaped TSV fixture per (session, sfDir) — the
    * reference's geocoded-affiliations export (`data/samples/
    * Affiliations_FC.txt:1`: the 10 sampled Affiliation columns + the
    * trailing country tuple-string). Content is a pure function of the
    * SF tables (one row per supplier; tuple = its nation + a derived
    * city; grid empty for every 3rd row, the real file's sparsity).
    * A [[SessionMemo.fixtureDirs]] fixture: DuckDB reads the SAME files
    * post-JVM. */
  private val fcDirs = SessionMemo.fixtureDirs("graft_magfc")
  private def affiliationsFcDir(s: SparkSession, d: String): String =
    fcDirs(s, d) { dir =>
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(concat_ws("\t",
          col("s_suppkey"),
          (col("s_suppkey") % 5000).cast("string"),
          lower(col("s_name")),
          col("s_name"),
          when(col("s_suppkey") % 3 === 0, lit("")).otherwise(
            concat(lit("grid."), col("s_suppkey").cast("string"),
              lit(".x"))),
          concat(lit("https://aff.example.org/"),
            col("s_suppkey").cast("string")),
          concat(lit("https://wiki.example.org/aff_"),
            col("s_suppkey").cast("string")),
          (col("s_suppkey") % 2000).cast("string"),
          (col("s_suppkey") % 90000).cast("string"),
          lit("2016-06-24"),
          concat(lit("('"), col("n_name"), lit("', 'City-"),
            pmod(col("s_suppkey"), lit(7L)).cast("string"), lit("')")))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/Affiliations_FC.txt")
    }

  /** DYNAMIC oracle for the FC-fixture query (path is session-scoped):
    * DuckDB reads the very TSV the Spark side ingested and replays the
    * tuple regexp, so the declared-schema read and the F10 parse both
    * sit under the hash gate. */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val dir = affiliationsFcDir(s, d)
    Map("q183_geo_enrichment" ->
      s"""WITH afc AS (SELECT * FROM
         |    read_csv('$dir/Affiliations_FC.txt/part-*',
         |      delim = '\t', header = false,
         |      columns = {'id': 'BIGINT', 'rank': 'INTEGER',
         |                 'name': 'VARCHAR', 'dname': 'VARCHAR',
         |                 'grid': 'VARCHAR', 'page': 'VARCHAR',
         |                 'wiki': 'VARCHAR', 'papers': 'BIGINT',
         |                 'citations': 'BIGINT', 'created_at': 'DATE',
         |                 'fc': 'VARCHAR'})),
         |afp AS (SELECT id,
         |    regexp_extract(fc,
         |      '\\(''([^'']*)'',\\s*''([^'']*)''\\)', 1) AS cc,
         |    regexp_extract(fc,
         |      '\\(''([^'']*)'',\\s*''([^'']*)''\\)', 2) AS city
         |  FROM afc)
         |SELECT r_name, city, CAST(count(*) AS BIGINT) AS n_suppliers,
         |  CAST(count(DISTINCT cc) AS BIGINT) AS n_countries
         |FROM afp JOIN nation ON afp.cc = n_name
         |     JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2""".stripMargin)
  }

  /** The stump purity-mass score S = (pos_L²+neg_L²)/n_L +
    * (pos_R²+neg_R²)/n_R as exact 10⁻⁶ fixed point in pure int64
    * (see q267): with q the common numerator over D = n_L·n_R,
    * score_x6 = (q div D)·10⁶ + ((q mod D)·10⁶) div D. All terms
    * nonnegative, so Spark `div` and DuckDB `//` agree — the ONE
    * formula is rendered for both engines. */
  private val StumpScoreCore =
    "(pos_left * pos_left + (n_left - pos_left) * (n_left - pos_left))" +
      " * n_right + (pos_right * pos_right" +
      " + (n_right - pos_right) * (n_right - pos_right)) * n_left"
  private def stumpScoreSql(divOp: String): String =
    s"((($StumpScoreCore) $divOp (n_left * n_right)) * 1000000" +
      s" + ((($StumpScoreCore) % (n_left * n_right)) * 1000000)" +
      s" $divOp (n_left * n_right))"
  private val StumpScoreSql = stumpScoreSql("div")
  private val StumpScoreDuck = stumpScoreSql("//")

  /** q275's persisted pre-1997 base census — built once per (session,
    * sfDir), so bench repeat passes measure MAINTENANCE (delta agg +
    * census-grain fold), not the base build. */
  private val aggBaseIndex = SessionMemo.indexDirs("graft_aggbase")

  /** Exact ×10⁶ fixed point of num/den for NONNEGATIVE num and
    * positive den, staged in two 10³ hops so it holds whenever
    * den·10³ < 2^63 (vs den·10⁶ for the single-hop q267 form):
    * floor(num·10⁶/den) = (num div den)·10⁶ + t₁·10³ + t₂ with
    * t₁ = (r₁·10³) div den, r₂ = (r₁·10³) mod den, t₂ = (r₂·10³) div
    * den — exact by expanding r₁·10⁶ = t₁·den·10³ + r₂·10³. One
    * formula rendered for both engines (q267 discipline). */
  private def fxSql(num: String, den: String, divOp: String): String =
    s"(((($num)) $divOp ($den)) * 1000000" +
      s" + (((($num) % ($den)) * 1000) $divOp ($den)) * 1000" +
      s" + ((((($num) % ($den)) * 1000) % ($den)) * 1000) $divOp ($den))"

  /** Signed form of [[fxSql]]: magnitude computed on abs(num) and the
    * sign re-applied, because truncation at negative operands is the
    * one place Spark `div` and DuckDB `//` disagree (q268 note). The
    * result truncates toward zero in both engines. */
  private def fxSignedSql(num: String, den: String, divOp: String): String =
    s"(CASE WHEN ($num) < 0 THEN -${fxSql(s"abs($num)", den, divOp)}" +
      s" ELSE ${fxSql(num, den, divOp)} END)"

  val defs: Map[String, Q] = Map(
    // Referential-integrity census (Relational.fkCensus scaladoc):
    // one row per declared FK edge of the star — child rows, null
    // keys, orphans, distinct referenced keys, parents, unreferenced
    // parents — the pre-ingestion data-quality gate next to q180's
    // row-level snapshot diff.
    "q219_fk_census" -> { (s, d) =>
      def tb(n: String): DataFrame = n match {
        case "lineitem" => Tables.lineitem(s, d)
        case "orders"   => Tables.orders(s, d)
        case "part"     => Tables.part(s, d)
        case "supplier" => Tables.supplier(s, d)
        case "customer" => Tables.customer(s, d)
        case "nation"   => Tables.nation(s, d)
        case "region"   => Tables.region(s, d)
      }
      Relational.fkCensus(fkEdges.map { case (nm, ct, ck, pt, pk) =>
        (nm, tb(ct), ck, tb(pt), pk) })
    },

    // National market share (the TPC-H Q8 shape on our star): within
    // the AMERICA region's ECONOMY-part market, NATION_3 suppliers'
    // yearly revenue share. The widest join tree in the suite — 8
    // relation instances (nation twice, in the customer and supplier
    // roles): lineitem→orders→customer→nation→region plus
    // lineitem→part and lineitem→supplier→nation. Every dimension is
    // explicitly broadcast (region/part/supplier/nation; customer
    // rides the shuffle with orders) — the plan a 100 TB fact scan
    // wants: one shuffle join chain on the fact keys, zero dimension
    // shuffles. Money in DECIMAL(18,2) exact sums (the q01/q03
    // discipline); the share spends ONE IEEE division on the rounded
    // sums.
    "q223_market_share" -> { (s, d) =>
      val ords = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val reg = Tables.region(s, d).filter(col("r_name") === "AMERICA")
      val prt = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
      val vol = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(vol), 2).cast("double").as("total_rev"),
          round(sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(dec(lit(0)))), 2).cast("double").as("nation_rev"))
        .select(col("o_year"), col("total_rev"), col("nation_rev"),
          round(col("nation_rev") / col("total_rev"), 4).as("mkt_share"))
    },
    // Full-scan multi-aggregate (A1/A3/A4/A6) with pushed filter (P8).
    "q01_pricing_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(dec(col("l_extendedprice"))), 2).cast("double").as("sum_base_price"),
          round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))), 2)
            .cast("double").as("sum_disc_price"),
          round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
            * dec(lit(1) + col("l_tax"))), 2).cast("double").as("sum_charge"),
          round(sum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
          round(sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)), 2).as("avg_price"),
          round(sum(dec(col("l_discount"))).cast("double") / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // K-anonymity census over the customer quasi-identifiers
    // (nation, market segment, account-balance kilo-bucket) with one
    // local-recoding generalization step (pool fine violators at the
    // coarser (nation, segment) tuple) — the release-review table a
    // data-governance pass reads before publishing (pairs with q201's
    // PII scrub). O(groups) dataflow: two groupBys + one keyed join.
    "q208_k_anonymity" -> { (s, d) =>
      import graft.operators.Quality
      val qi = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000d).cast("long").as("bal_kilo"))
      Quality.kAnonymityCensus(qi,
        Seq("nationkey", "mktsegment", "bal_kilo"),
        Seq("nationkey", "mktsegment"), k = 5)
    },

    // Projection + conjunctive/disjunctive predicates (P1/P6/P8/P9);
    // both filter and column pruning reach the parquet scan.
    "q02_parts_filter" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_size").between(10, 20) &&
          (col("p_type") === "SMALL" || col("p_type") === "ECONOMY") &&
          col("p_name").contains("bolt"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"))
    },

    // 3-way join + agg + deterministic top-k (J1/J2, O2 via row_number).
    "q03_topk_revenue" -> { (s, d) =>
      val rev = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))), 2)
          .cast("double").as("revenue"))
      // GLOBAL top-k via partitionCols = lit(1): Spark warns about the
      // single-partition window, but Spark 4 plans WindowGroupLimit —
      // each task forwards only its local top 10, so the one reducer
      // merges #partitions × 10 survivor rows, not the full aggregate.
      // Scale-safe by construction; the warning is a false alarm here.
      Relational.topKPerGroup(rev, Seq(lit(1)),
          Seq(col("revenue").desc, col("l_orderkey")), 10)
        .drop("rn")
    },

    // Broadcast left-semi join (J6: EXISTS) + group-count.
    "q04_priority_exists" -> { (s, d) =>
      val heavy = Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
        .select(col("l_orderkey")).distinct()
      Tables.orders(s, d)
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // Snowflake multi-join (J2/J3) with broadcast dims; revenue per nation.
    "q05_region_volume" -> { (s, d) =>
      val nat = broadcast(Tables.nation(s, d))
      val reg = broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))), 2)
          .cast("double").as("revenue"))
    },

    // Pure scan-side range predicates → single global aggregate (P8).
    "q06_forecast_revenue" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(round(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))), 2)
          .cast("double").as("revenue"))
    },

    // Anti-join (NOT EXISTS; reference's driver-side `diff`, O5).
    "q07_customers_no_orders" -> { (s, d) =>
      val o95 = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
      Tables.customer(s, d)
        .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    },

    // Left outer join + zero-fill aggregation (J8 + P12).
    "q08_customer_order_stats" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(dec(col("o_totalprice"))), lit(0)), 2)
            .cast("double").as("total_spent"))
    },

    // Cumulative window over year (W1: RANGE unbounded preceding).
    "q09_cumulative_orders" -> { (s, d) =>
      val byYear = Tables.orders(s, d)
        .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"))
      Relational.cumulativeOver(byYear, col("o_custkey"), col("yr"),
        col("n_orders"), "cum_orders")
    },

    // Year densification: entity×period grid, zero fill, cumulative —
    // the reference profile pipeline (J5 crossJoin + J8 + P12 + W1).
    "q10_yearly_grid" -> { (s, d) =>
      Relational.densifyCumulative(Tables.orders(s, d),
          col("o_custkey"), year(col("o_orderdate")).cast("long"),
          "o_custkey", "yr")
        .withColumnRenamed("n", "n_orders")
        .withColumnRenamed("cum", "cum_orders")
    },

    // Deterministic per-group top-k (similarity-search ranking pattern).
    "q11_top3_orders_per_customer" -> { (s, d) =>
      Relational.topKPerGroup(Tables.orders(s, d), Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    },

    // countDistinct (A2) + plain aggregates in one pass (A6).
    "q12_part_supplier_stats" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    },

    // Array aggregation with deterministic ordering (A5 + sort_array;
    // FIXTURES.md §4 determinism rule).
    "q13_order_partlist" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(transform(sort_array(collect_list(col("l_partkey"))),
            _.cast("string")), ",").as("parts"),
          count(lit(1)).as("n_items"))
    },

    // Set operation: EXCEPT (distinct) — O5.
    "q14_active_except" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val in95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val in00 = o.filter(year(col("o_orderdate")) === 2000).select(col("o_custkey"))
      in95.except(in00)
    },

    // Set operation: INTERSECT (distinct) — the other half of O5.
    "q68_retained_intersect" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val in98 = o.filter(year(col("o_orderdate")) === 1998).select(col("o_custkey"))
      val in99 = o.filter(year(col("o_orderdate")) === 1999).select(col("o_custkey"))
      in98.intersect(in99)
    },

    // Analytic-window suite: rank, lag delta, rows-frame moving average
    // over per-supplier monthly revenue.
    "q38_window_suite" -> { (s, d) =>
      val monthly = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"),
          unix_timestamp(date_trunc("month", col("l_shipdate"))).as("mth_s"))
        .agg(round(sum(dec(col("l_extendedprice"))), 2).cast("double").as("rev"))
      val byMonth = Window.partitionBy(col("l_suppkey")).orderBy(col("mth_s"))
      val byRev = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("rev").desc, col("mth_s"))
      monthly
        .withColumn("rnk", rank().over(byRev).cast("long"))
        .withColumn("prev_rev", lag(col("rev"), 1).over(byMonth))
        // moving SUM, not average: round(avg) lands on exact .005
        // boundaries where Spark (BigDecimal HALF_UP on the shortest
        // decimal form) and DuckDB (binary multiply-round) disagree;
        // a 3-term sum of 2-decimal values stays 0.005 away from any
        // rounding boundary, so it's stable in both engines
        .withColumn("mov_sum3", round(sum(col("rev"))
          .over(byMonth.rowsBetween(-2, Window.currentRow)), 2))
    },

    // Grouping sets: CUBE over (returnflag, linestatus).
    "q39_cube_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    },

    // TPC-H Q21 shape: semi-join AND anti-join against the same table
    // with extra non-equi conditions — suppliers solely responsible for
    // a heavy line in multi-supplier orders.
    "q50_sole_blame" -> { (s, d) =>
      val lines = graft.Checkpoints.checkpoint(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()) // 3 refs below
      val heavy = graft.Checkpoints.checkpoint(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
          .select(col("l_orderkey"), col("l_suppkey")).distinct())
      val withOther = heavy.join(
        lines.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      val soleHeavy = withOther.join(
        heavy.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      soleHeavy.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
    },

    // TPC-H Q19 shape: disjunction of conjunctive join+filter branches
    // — the planner must keep the equi-join key and push the residual
    // OR-of-ANDs as a post-join filter.
    "q55_branded_revenue" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50)))
        .agg(round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // Conditional aggregation (CASE WHEN inside agg) by quarter.
    "q52_returns_by_quarter" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          quarter(col("l_shipdate")).cast("long").as("qtr"))
        .agg(
          round(sum(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(0.0)), 2).as("returned_qty"),
          round(sum(when(col("l_returnflag") =!= "R", col("l_quantity"))
            .otherwise(0.0)), 2).as("kept_qty"),
          count(when(col("l_returnflag") === "R", lit(1))).as("n_returns"))
    },

    // Correlated aggregate threshold (TPC-H Q17 shape): lines below
    // 20% of their part's average quantity. The threshold is a double
    // computed identically by both engines from identical inputs, so
    // the comparison cannot flip.
    "q53_small_quantity_revenue" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val avgQty = li.groupBy(col("l_partkey"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(avgQty, "l_partkey")
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .agg(round(sum(dec(col("l_extendedprice"))), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // Exact percentiles (linear interpolation — Spark `percentile` and
    // DuckDB `quantile_cont` interpolate identically on identical
    // doubles; no arithmetic noise since inputs come straight from
    // parquet).
    "q45_price_percentiles" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"))
    },

    // Z-order layout audit: Morton-bucket the (partkey, suppkey) plane
    // (>> 18: each bucket is a 512x512 rectangle) and report per-bucket
    // extents — the multi-dimensional clustering a lakehouse sorts by
    // so one key range prunes BOTH dimensions. The per-bucket min/max
    // columns ARE the pruning guarantee the oracle hash-checks.
    "q116_zorder_layout" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_partkey").between(0, 65535) &&
          col("l_suppkey").between(0, 65535))
        .withColumn("zbucket", shiftright(
          graft.operators.Relational.zorderKey(
            col("l_partkey"), col("l_suppkey")), 18))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_p"), max(col("l_partkey")).as("max_p"),
          min(col("l_suppkey")).as("min_s"), max(col("l_suppkey")).as("max_s"))
    },

    // GROUPED nearest-rank quantiles — q113's global form per group.
    // l_returnflag has only ~3 distinct values, so a per-group window
    // rank would funnel ~1/3 of lineitem through ONE task at scale —
    // the exact single-reducer hazard q113's two-phase form exists to
    // avoid. Instead: ONE global two-phase rank ordered by (group,
    // value, unique id); per-group rank = global rank − group offset,
    // where offsets (min rank) and sizes come from a partial-agg
    // shuffle carrying ~groups rows. Low-cardinality groups cost
    // nothing extra — they are just ranges of the global order.
    "q117_grouped_quantiles" -> { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      // the ranked spine has TWO consumers (group offsets + the probe
      // join) — checkpoint so the two-phase rank runs once per call,
      // not once per consumer
      val ranked = graft.Checkpoints.checkpoint(
        graft.operators.Relational.globalCumsum(
          li, Seq(col("l_returnflag"), col("v"),
            col("l_orderkey"), col("l_linenumber")), lit(1L), "rnk"))
      // target GLOBAL ranks computed on the TINY side (groups × probs),
      // so the pick is a broadcast HASH join on the unique global rank
      // — a mixed-side ceil(p·n) predicate would plan a nested loop
      val targets = ranked.groupBy(col("l_returnflag").as("rf"))
        .agg(min(col("rnk")).as("off"), count(lit(1)).as("n"))
        .crossJoin(Seq(0.25, 0.5, 0.75, 0.99).toDF("p"))
        .select(col("rf"), col("p"),
          (col("off") - lit(1L) +
            greatest(lit(1L), ceil(col("p") * col("n")).cast("long"))).as("tr"))
      ranked.join(broadcast(targets), col("rnk") === col("tr"))
        .select(col("l_returnflag"), col("p"), col("v"))
    },

    // EXACT nearest-rank quantiles at scale — q45's interpolated form
    // needs the whole group on one pass; this one computes a GLOBAL
    // value rank via the range-partitioned two-phase prefix sum (the
    // q86 machinery) and picks the value at rank ceil(p*n): no
    // single-partition sort anywhere, no interpolation arithmetic to
    // diverge between engines (the selected value is read, not
    // computed). Oracle replays the rank with a window function.
    "q113_exact_quantiles" -> { (s, d) =>
      graft.operators.Relational.exactQuantiles(
        Tables.lineitem(s, d), col("l_extendedprice"),
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
    },

    // W-surface closure: ntile / percent_rank / cume_dist — the three
    // distribution window functions q113/q117's GLOBAL machinery
    // deliberately avoids at corpus grain, used here where they belong:
    // PER-GROUP (nation) customer-revenue quartiles. The window is
    // keyed by nation, so partitions are group-sized, not corpus-sized
    // — the scale hazard of these functions (a single global ORDER BY)
    // never arises. Total order (revenue, custkey) is unique, so ntile
    // bucket boundaries and both distribution stats are deterministic;
    // each stat spends one IEEE division over exact integers (the q66
    // discipline), identical in both engines.
    "q266_revenue_quartiles" -> { (s, d) =>
      val rev = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d)
            .select(col("o_custkey"),
              (dec(col("o_totalprice")) * 100).cast("long").as("cents")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(coalesce(sum(col("cents")), lit(0L)).as("revenue_cents"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("revenue_cents"), col("c_custkey"))
      rev.select(col("n_name"), col("c_custkey"), col("revenue_cents"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
    },

    // EXACT DISTRIBUTED DECISION STUMP — the quality-classifier
    // training primitive (CART split finding, Breiman et al., public):
    // predict "urgent order" from binned price. One bounds scan + one
    // binned-aggregate scan over the corpus (the q162 shape);
    // everything after the 32-row bin census — cumulative left counts,
    // the split argmax — is driver-scale (a window over ≤ 32 rows, NOT
    // the corpus). Minimizing the weighted Gini n_L·G_L + n_R·G_R is
    // maximizing the PURITY MASS S = (pos_L² + neg_L²)/n_L +
    // (pos_R² + neg_R²)/n_R (W = N − S, same N for every split — so S
    // is comparable ACROSS splits, which the denominator-cleared
    // W·n_L·n_R form is NOT). S is computed as exact 10⁻⁶ fixed point
    // without ever touching a float: with q = a·n_R + b·n_L and
    // D = n_L·n_R (S = q/D), score_x6 = (q div D)·10⁶ +
    // ((q mod D)·10⁶) div D — every intermediate ≤ n²·N·… < 2^63 for
    // n ≤ ~2M (test SFs ≤ 150k), so the argmax and its ties (then by
    // bin) are bit-identical in both engines.
    "q267_decision_stump" -> { (s, d) =>
      val o = Tables.orders(s, d).select(
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val per = o.crossJoin(broadcast(mm))
        .withColumn("bin", expr("(cents - lo) * 32 div (hi - lo + 1)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
      val wBin = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = per
        .withColumn("n_left", sum(col("n")).over(wBin))
        .withColumn("pos_left", sum(col("pos")).over(wBin))
        .crossJoin(broadcast(tot))
        .filter(col("n_left") < col("nn")) // right side must be nonempty
        .select(col("bin"), col("n_left"), col("pos_left"),
          (col("nn") - col("n_left")).as("n_right"),
          (col("pp") - col("pos_left")).as("pos_right"))
      val scored = cum.select(col("bin"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"),
        expr(StumpScoreSql).as("score_x6"))
      scored.withColumn("is_best",
        when(row_number().over(
          Window.orderBy(col("score_x6").desc, col("bin"))) === 1, 1L)
          .otherwise(0L))
    },

    // FEATURE IMPORTANCE by best-split purity — the tree-training
    // inner loop across features (root-node feature selection): three
    // candidate features (price bin, order month, customer segment)
    // share ONE corpus scan via a stacked explode, each gets its own
    // per-bin census + cumulative split sweep, and features rank by
    // their best split's purity-mass score. The score is q267's exact
    // fixed point, and because W = N − S with the SAME N for every
    // feature, scores compare ACROSS features — the property the
    // denominator-cleared weighted-Gini form lacks. Post-census work
    // is ≤ 60 (feature, bin) rows.
    "q269_feature_importance" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        month(col("o_orderdate")).cast("long").as("mth"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val stacked = o.crossJoin(broadcast(mm)).select(col("y"),
        explode(array(
          struct(lit("price").as("feature"),
            expr("(cents - lo) * 32 div (hi - lo + 1)").as("bin")),
          struct(lit("month").as("feature"), col("mth").as("bin")),
          struct(lit("cseg").as("feature"),
            (col("o_custkey") % 16).as("bin")))).as("fb"))
        .select(col("y"), col("fb.feature").as("feature"),
          col("fb.bin").as("bin"))
      val per = stacked.groupBy(col("feature"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val tot = per.groupBy(col("feature"))
        .agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
      val wF = Window.partitionBy(col("feature")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = per
        .withColumn("n_left", sum(col("n")).over(wF))
        .withColumn("pos_left", sum(col("pos")).over(wF))
        .join(broadcast(tot), Seq("feature"))
        .filter(col("n_left") < col("nn"))
        .select(col("feature"), col("bin"), col("n_left"), col("pos_left"),
          (col("nn") - col("n_left")).as("n_right"),
          (col("pp") - col("pos_left")).as("pos_right"))
        .withColumn("score_x6", expr(StumpScoreSql))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("feature"))
            .orderBy(col("score_x6").desc, col("bin"))))
        .filter(col("rn") === 1)
        .select(col("feature"), col("bin").as("best_bin"), col("n_left"),
          col("score_x6"))
        .withColumn("feat_rank", row_number().over(
          Window.orderBy(col("score_x6").desc, col("feature")))
          .cast("long"))
    },

    // TRAIN → HOLDOUT EVAL closure over q267's stump: fit the split on
    // EVEN order keys only (bounds, bins, argmin — all from the
    // training half), pick the polarity by integer cross-multiplied
    // positive rates (pos_L·n_R vs pos_R·n_L — no division), then
    // classify the ODD-key holdout and emit the confusion census with
    // exact ×10⁴ metrics (precision/recall from single integer
    // floordivs; F1 = 2·tp·10⁴ div (2·tp + fp + fn), exact without
    // composing the rounded p and r). The model is TWO broadcast
    // integers (threshold bin + polarity) — the serve side is one
    // corpus scan with an arithmetic predicate, the 100 TB shape of
    // "apply a quality classifier at ingestion".
    "q268_stump_eval" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val tr = o.filter(col("o_orderkey") % 2 === 0)
      val te = o.filter(col("o_orderkey") % 2 === 1)
      val mm = tr.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val per = tr.crossJoin(broadcast(mm))
        .withColumn("bin", expr("(cents - lo) * 32 div (hi - lo + 1)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
      val wBin = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val best = per
        .withColumn("n_left", sum(col("n")).over(wBin))
        .withColumn("pos_left", sum(col("pos")).over(wBin))
        .crossJoin(broadcast(tot))
        .filter(col("n_left") < col("nn"))
        .select(col("bin"), col("n_left"), col("pos_left"),
          (col("nn") - col("n_left")).as("n_right"),
          (col("pp") - col("pos_left")).as("pos_right"))
        .withColumn("score_x6", expr(StumpScoreSql))
        .withColumn("rn",
          row_number().over(
            Window.orderBy(col("score_x6").desc, col("bin"))))
        .filter(col("rn") === 1)
        .select(col("bin").as("best_bin"),
          // polarity: predict positive on the side with the higher
          // positive RATE, compared division-free
          when(col("pos_left") * col("n_right") >
               col("pos_right") * col("n_left"), 1L).otherwise(0L)
            .as("left_pos"))
      // holdout values OUTSIDE the training range clamp to the edge
      // bins — also keeps the bin numerator nonnegative (negative
      // floordiv is the one place Spark `div` and DuckDB `//` disagree)
      te.crossJoin(broadcast(mm)).crossJoin(broadcast(best))
        .withColumn("bin",
          expr("(greatest(lo, least(hi, cents)) - lo) * 32" +
            " div (hi - lo + 1)"))
        .withColumn("pred",
          when((col("bin") <= col("best_bin")) === (col("left_pos") === 1L),
            1L).otherwise(0L))
        .agg(sum(when(col("pred") === 1L && col("y") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1L && col("y") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0L && col("y") === 1L, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("pred") === 0L && col("y") === 0L, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 10000 div (tp + fp)").as("precision_x10k"),
          expr("tp * 10000 div (tp + fn)").as("recall_x10k"),
          expr("2 * tp * 10000 div (2 * tp + fp + fn)").as("f1_x10k"))
    },

    // PRECISION–RECALL CURVE of the binned price score — q268's point
    // metrics swept across ALL thresholds at once (where q248's lift
    // table deciles a RANKING, this sweeps the CLASSIFICATION
    // threshold): the same one bounds scan + one binned census
    // (q162/q267 shape), then each threshold's confusion from a
    // cumulative-from-the-RIGHT window over the ≤32-row bin relation
    // (post-census, driver-scale — the q267 window discipline), so the
    // full curve costs exactly the two corpus passes a single
    // threshold does. Predict positive on bin ≥ t; metrics are exact
    // ×10⁴ single floordivs (F1 never composed from the rounded p
    // and r).
    "q270_pr_curve" -> { (s, d) =>
      val o = Tables.orders(s, d).select(
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val per = o.crossJoin(broadcast(mm))
        .withColumn("bin", expr("(cents - lo) * 32 div (hi - lo + 1)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val tot = per.agg(sum(col("pos")).as("pp"))
      val wR = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per
        .withColumn("tp", sum(col("pos")).over(wR))
        .withColumn("pred_pos", sum(col("n")).over(wR))
        .crossJoin(broadcast(tot))
        .select(col("bin").as("threshold_bin"), col("tp"),
          (col("pred_pos") - col("tp")).as("fp"),
          (col("pp") - col("tp")).as("fn"))
        .select(col("threshold_bin"), col("tp"), col("fp"), col("fn"),
          expr("tp * 10000 div (tp + fp)").as("precision_x10k"),
          expr("tp * 10000 div (tp + fn)").as("recall_x10k"),
          expr("2 * tp * 10000 div (2 * tp + fp + fn)").as("f1_x10k"))
    },

    // COHEN'S KAPPA (1960) — chance-corrected agreement between a
    // fixed price-rule "annotator" (upper half of the q267 bin range)
    // and the urgent label: the annotation-QC primitive behind label
    // audits (raw accuracy flatters an annotator who just predicts the
    // majority class; kappa subtracts the marginal-chance agreement).
    // One bounds scan + one confusion census; kappa = (N·po − pe) /
    // (N² − pe) with po = tp+tn and pe = (tp+fp)(tp+fn)+(fn+tn)(fp+tn)
    // kept as raw integer masses, the SIGNED staged fixed point
    // (kappa < 0 when agreement runs below chance). The denominator
    // is floored at 1 (q272 discipline): N² = pe exactly when both
    // marginals are constant, where the numerator is 0 too, so the
    // floored quotient is still the right 0 — without the floor Spark
    // `div` NULLs while DuckDB `//` raises, and the engines diverge.
    // Validity envelope (tighter than the generic fxSql note, stated
    // here the way q276 states its n-bound): fxSql needs den·10³ <
    // 2^63 and den = N² − pe ≤ N², so kappa_x6 is exact up to
    // N ≈ 9.6e7 orders (~SF 60); q272's (b−c)² term carries the same
    // N-bound. Past that, compute the census per stratum and fold.
    "q271_rater_kappa" -> { (s, d) =>
      val o = Tables.orders(s, d).select(
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      o.crossJoin(broadcast(mm))
        .withColumn("pred",
          when(expr("(cents - lo) * 32 div (hi - lo + 1)") >= 16, 1L)
            .otherwise(0L))
        .agg(sum(when(col("pred") === 1L && col("y") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1L && col("y") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0L && col("y") === 1L, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("pred") === 0L && col("y") === 0L, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("(tp + tn) * 10000 div (tp + fp + fn + tn)")
            .as("accuracy_x10k"),
          expr(fxSignedSql(
            "(tp + fp + fn + tn) * (tp + tn)" +
              " - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))",
            "greatest((tp + fp + fn + tn) * (tp + fp + fn + tn)" +
              " - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)), 1)",
            "div")).as("kappa_x6"))
    },

    // McNEMAR'S PAIRED COMPARISON (1947) — "is classifier A actually
    // better than classifier B on the SAME examples?", the question
    // accuracy deltas can't answer (shared easy examples cancel; only
    // the DISCORDANT pairs b = A-right/B-wrong and c = A-wrong/B-right
    // carry signal). Two fixed rules on the urgent label — A = the
    // q271 price rule, B = a first-half-year month rule — scored in
    // ONE confusion census (one bounds scan + one corpus pass, q162
    // shape); the statistic (b−c)²/(b+c) is a nonnegative integer
    // ratio → the staged ×10⁶ fixed point, no sign split (den
    // floored at 1 for the degenerate no-discordance corpus, where
    // the numerator is 0 anyway).
    "q272_mcnemar_compare" -> { (s, d) =>
      val o = Tables.orders(s, d).select(
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
        month(col("o_orderdate")).cast("long").as("mth"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      o.crossJoin(broadcast(mm))
        .withColumn("ok_a",
          when((expr("(cents - lo) * 32 div (hi - lo + 1)") >= 16)
            .cast("long") === col("y"), 1L).otherwise(0L))
        .withColumn("ok_b",
          when((col("mth") <= 6).cast("long") === col("y"), 1L)
            .otherwise(0L))
        .agg(sum(when(col("ok_a") === 1L && col("ok_b") === 1L, 1L)
            .otherwise(0L)).as("both_right"),
          sum(when(col("ok_a") === 1L && col("ok_b") === 0L, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("ok_a") === 0L && col("ok_b") === 1L, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("ok_a") === 0L && col("ok_b") === 0L, 1L)
            .otherwise(0L)).as("both_wrong"))
        .select(col("both_right"), col("b"), col("c"), col("both_wrong"),
          expr("(both_right + b) * 10000" +
            " div (both_right + b + c + both_wrong)").as("acc_a_x10k"),
          expr("(both_right + c) * 10000" +
            " div (both_right + b + c + both_wrong)").as("acc_b_x10k"),
          expr(fxSql("(b - c) * (b - c)", "greatest(b + c, 1)", "div"))
            .as("mcnemar_x6"))
    },

    // THEIL–SEN ROBUST TREND (1950/1968) — q173's MAD twin for
    // regression: the median of pairwise slopes, immune to the
    // outlier years that drag q168's OLS fit. Per nation the yearly
    // census is CALENDAR-BOUNDED (≤ 7 points → ≤ 21 pairs), so the
    // pair "self-join" and the median window are group-keyed and tiny
    // by construction (the q230-decile bounded-domain rule) while the
    // corpus pass stays one join + one census shuffle. Each pair's
    // slope is the SIGNED staged ×10⁶ fixed point (Δcents/Δyear;
    // Δyear > 0 by the x1 < x2 generation); the lower median (rank
    // (n+1) div 2 over slope-ordered pairs) is an order-statistic of
    // exact integers — bit-identical in both engines.
    "q273_theilsen_trend" -> { (s, d) =>
      // the census feeds BOTH sides of the pair join — checkpoint so
      // the corpus join runs once; broadcast the probe side (the
      // census is nations×years rows at any corpus size)
      val yr = graft.Checkpoints.checkpoint(Tables.orders(s, d)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) - 1992).cast("long").as("x"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
        .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("x"))
        .agg(sum(col("cents")).as("yv")))
      val pairs = yr.as("l")
        .join(broadcast(yr.as("r")), col("l.n_name") === col("r.n_name") &&
          col("l.x") < col("r.x"))
        .select(col("l.n_name").as("n_name"),
          expr(fxSignedSql("r.yv - l.yv", "r.x - l.x", "div"))
            .as("slope_x6"))
      val wMed = Window.partitionBy(col("n_name"))
        .orderBy(col("slope_x6"))
      pairs
        .withColumn("rn", row_number().over(wMed).cast("long"))
        .withColumn("n_pairs",
          count(lit(1)).over(Window.partitionBy(col("n_name"))))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("n_name"), col("n_pairs"),
          col("slope_x6").as("ts_slope_x6"))
    },

    // L-DIVERSITY census (Machanavajjhala et al. 2007) — the
    // homogeneity-attack gate q208's k-anonymity misses: a QI group
    // can be comfortably large yet expose everyone's sensitive value
    // if that value is (near-)constant inside it. Same customer QI
    // frame as q208 with the market segment moved from QI to the
    // SENSITIVE role; per group the distinct-sensitive count, the
    // exact ×10⁴ share of the dominant value (the direct homogeneity
    // readout), and the verdict at l = 3. Two keyed aggregates —
    // O(groups·values), never O(rows²).
    "q274_l_diversity" -> { (s, d) =>
      import graft.operators.Quality
      val qi = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nationkey"),
        floor(col("c_acctbal") / 1000d).cast("long").as("bal_kilo"),
        col("c_mktsegment").as("mktsegment"))
      Quality.lDiversityCensus(qi, Seq("nationkey", "bal_kilo"),
        "mktsegment", l = 3)
    },

    // MATERIALIZED-AGGREGATE MAINTENANCE — the incremental-view-upkeep
    // shape at the relational layer (the BM25/minhash/IVF build-and-
    // append convention applied to a plain GROUP BY): the pre-1997
    // base census is aggregated ONCE per (session, sfDir) and persisted
    // as parquet; the serve path aggregates only the 1997+ DELTA and
    // folds it into the base by re-aggregating the union of the two
    // CENSUSES (rows ∝ groups, not corpus). count/sum are commutative
    // monoids, so maintained ≡ one-shot exactly — which is precisely
    // what the oracle (a full recompute) checks. At 100 TB this is the
    // difference between scanning yesterday's corpus again and
    // touching only the new partition.
    "q275_agg_maintenance" -> { (s, d) =>
      val cut = "1997-01-01"
      def census(df: DataFrame): DataFrame = df
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum((dec(col("o_totalprice")) * 100).cast("long"))
            .as("revenue_cents"))
      val dir = aggBaseIndex(s, d) { dir =>
        census(Tables.orders(s, d).filter(col("o_orderdate") < lit(cut)))
          .write.parquet(s"$dir/base")
      }
      census(Tables.orders(s, d).filter(col("o_orderdate") >= lit(cut)))
        .unionByName(s.read.parquet(s"$dir/base"))
        .groupBy(col("o_year"), col("o_orderpriority"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("revenue_cents")).as("revenue_cents"))
    },

    // Equi-WIDTH histogram — the distribution view between q130's
    // min/max and q113's equi-DEPTH quantiles: 16 fixed-width buckets
    // of the order total in exact cents. Bounds are corpus min/max
    // (broadcast scalars, q42 shape); bucket = (cents−lo)·16 div
    // (hi−lo+1) — int64 throughout, and each bucket row carries the
    // exact min/max it actually holds, so the reader needs no side
    // bound table. One bounds scan + one banded-aggregate scan
    // however large the table.
    "q162_equiwidth_histogram" -> { (s, d) =>
      val o = Tables.t(s, d, "orders")
        .select((dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val mm = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      o.crossJoin(broadcast(mm))
        .withColumn("bucket", expr("(cents - lo) * 16 div (hi - lo + 1)"))
        .groupBy(col("bucket"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("bucket_min"),
          max(col("cents")).as("bucket_max"))
    },

    // RFM SEGMENTATION (Hughes 1994) — the classic customer-value
    // census: per ordering customer, recency / frequency / monetary
    // quartile codes 4..1 (4 = best). Quartiles by the DISTRIBUTED
    // rank formula — three `globalCumsum` passes (range shuffle +
    // per-partition window + broadcast offsets, the q113 discipline),
    // NEVER a single global window; score = 4 − ((rank−1)·4 div n) is
    // exact integer arithmetic and rank is unique via the custkey
    // tie-break, so quartile boundaries are deterministic on both
    // engines. Money in exact cents (the q162 rule).
    "q229_rfm_segments" -> { (s, d) =>
      val cust = Tables.t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_dt"),
          count(lit(1)).as("freq"),
          sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      val r1 = Relational.globalCumsum(cust,
        Seq(col("last_dt").desc, col("o_custkey")), lit(1L), "r_rnk")
      val r2 = Relational.globalCumsum(r1,
        Seq(col("freq").desc, col("o_custkey")), lit(1L), "f_rnk")
      val r3 = Relational.globalCumsum(r2,
        Seq(col("cents").desc, col("o_custkey")), lit(1L), "m_rnk")
      val n = cust.agg(count(lit(1)).as("n"))
      r3.crossJoin(broadcast(n))
        .select(col("o_custkey"),
          expr("4 - (((r_rnk - 1) * 4) div n)").as("r_score"),
          expr("4 - (((f_rnk - 1) * 4) div n)").as("f_score"),
          expr("4 - (((m_rnk - 1) * 4) div n)").as("m_score"))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
    },

    // LORENZ CURVE of customer revenue concentration: deciles of the
    // revenue-ascending customer ranking with exact cumulative-share
    // basis points — the distributional readout q231's Gini scalar
    // summarizes. Rank via one `globalCumsum` (distributed two-phase);
    // the 10-row decile relation is the only single-partition window
    // (bounded domain). Shares in int64: cum_cents·10⁴ ≤ 3.8e16 at
    // sf0.1 — at larger corpora widen the product to DECIMAL(38,0)
    // (the q231 pattern).
    "q230_lorenz_deciles" -> { (s, d) =>
      val ranked = custRevenueRanked(s, d)
      val tot = ranked.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total"))
      val w10 = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rnk - 1) * 10 div n) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("rev_cents"),
          max(col("total")).as("total"))
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w10))
        .select(col("decile"), col("n_cust"), col("rev_cents"),
          col("cum_rev_cents"),
          expr("cum_rev_cents * 10000 div total").as("cum_share_x10k"))
    },

    // GINI COEFFICIENT of customer revenue — the inequality scalar
    // over the same ranked spine as q230's Lorenz curve, by the exact
    // rank-sum identity G = Σ(2i−n−1)·x_i / (n·Σx) with x ascending.
    // The numerator sums in DECIMAL(38,0) (each term ≤ n·x_i; the
    // int64 bound n·total ≈ 5.6e16 at sf0.1 already forces the final
    // ×10⁴ product wide — DuckDB's hugeint twin does the same), and
    // the numerator is ≥ 0 by construction so integral division is
    // floor on both engines. One globalCumsum + one aggregate — no
    // all-pairs |x_i − x_j| join, which is the naive O(n²) form.
    "q231_revenue_gini" -> { (s, d) =>
      val ranked = custRevenueRanked(s, d)
      val tot = ranked.agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total"))
      ranked.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_cust"), max(col("total")).as("total_cents"),
          sum(expr("CAST(rnk * 2 - n - 1 AS DECIMAL(38,0)) * cents"))
            .as("gnum"))
        .select(col("n_cust"), col("total_cents"),
          col("gnum").cast("long").as("gini_num"),
          expr("(gnum * 10000) div (CAST(n_cust AS DECIMAL(38,0)) * total_cents)")
            .as("gini_x10k"))
    },

    // CUSUM CHANGEPOINT over the daily revenue series (Page 1954) —
    // the drift detector between q164's autocorrelation and q169's
    // trend decomposition: S_i = Σ_{j≤i}(x_j − mean), kept exact by
    // scaling ×n (snx_i = n·cum_i − i·total, all int64: n is
    // CALENDAR-bounded ≈2.4k days, so n·total ≈ 9e15 at sf0.1), and
    // the argmax |S_i| day is the classic single-changepoint estimate.
    // The day-grain window is single-partition by design (bounded
    // domain, the q230-decile rule); both corpus-scale stages are one
    // keyed groupBy each.
    "q232_cusum_changepoint" -> { (s, d) =>
      cusumReadout(Tables.t(s, d, "orders")
        .groupBy(col("o_orderdate"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long"))
          .as("rev_cents")))
    },

    // JOIN-KEY SKEW AUDIT — the pre-flight check for the q61/q107
    // salting decision, as a first-class operator: the top-10 heaviest
    // join keys of lineitem.l_suppkey with exact share and skew ratio
    // (count · n_keys / n_rows — 10⁴ = a perfectly uniform key). At
    // 100 TB this census IS how you discover the q107 straggler before
    // it stalls an executor: one keyed count, one global top-10
    // (TakeOrdered — never a full sort), totals as a broadcast 1-row
    // scalar (q42 shape).
    "q243_skew_audit" -> { (s, d) =>
      val cnt = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val tot = cnt.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
      val w = Window.orderBy(col("cnt").desc, col("l_suppkey"))
      cnt.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
        .withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("l_suppkey"), col("cnt"),
          expr("cnt * 10000 div n_rows").as("share_x10k"),
          expr("cnt * n_keys * 10000 div n_rows").as("skew_x10k"),
          col("n_keys"), col("n_rows"))
    },

    // LONGEST ACTIVITY STREAK per user — the consecutive-day
    // gaps-and-islands classic (the calendar twin of q32's time-gap
    // sessionization): anchor = day − rank(day) is constant exactly
    // within a consecutive run, so runs fall out of one groupBy; the
    // longest run per user via the deterministic top-1 (length desc,
    // earlier start wins). Two user-keyed windows + two keyed
    // aggregates, integer epoch days throughout.
    "q244_longest_streak" -> { (s, d) =>
      val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val runs = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
        .withColumn("anchor", col("day") - row_number().over(wu))
        .groupBy(col("user_id"), col("anchor"))
        .agg(count(lit(1)).as("streak_len"), min(col("day")).as("streak_start"))
      val act = runs.groupBy(col("user_id"))
        .agg(sum(col("streak_len")).as("n_active_days"))
      Relational.topKPerGroup(runs, Seq(col("user_id")),
          Seq(col("streak_len").desc, col("streak_start")), 1)
        .drop("rn", "anchor")
        .join(act, "user_id")
    },

    // CLV COHORT CURVES — the customer-lifetime-value triangle beside
    // q91's retention triangle: customers cohorted by first-order
    // year; per (cohort, age) the active count, revenue, cumulative
    // revenue, and CLV-to-date = cum div cohort_size, all in exact
    // cents. The per-cohort cumulative window is bounded by the
    // calendar (≤7 ages); cohort sizes are a broadcast dimension.
    "q241_clv_cohorts" -> { (s, d) =>
      val o = Tables.t(s, d, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).cast("long")
          .as("yr"),
          (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      val cohort = o.groupBy(col("o_custkey"))
        .agg(min(col("yr")).as("cohort_yr"))
      val wc = Window.partitionBy(col("cohort_yr")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.join(cohort, "o_custkey")
        .groupBy(col("cohort_yr"), (col("yr") - col("cohort_yr")).as("age"))
        .agg(countDistinct(col("o_custkey")).as("n_active"),
          sum(col("cents")).as("rev_cents"))
        .join(broadcast(cohort.groupBy(col("cohort_yr"))
          .agg(count(lit(1)).as("cohort_n"))), "cohort_yr")
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wc))
        .select(col("cohort_yr"), col("age"), col("n_active"),
          col("cohort_n"), col("rev_cents"), col("cum_rev_cents"),
          expr("cum_rev_cents div cohort_n").as("clv_cents"))
    },

    // NATION-PAIR TRADE FLOWS (the TPC-H Q7 join shape, widened to the
    // full cross-nation matrix): supplier-nation → customer-nation
    // yearly revenue over the 6-relation chain. Every dimension
    // (customer, supplier, nation×2) explicitly broadcast; the only
    // real exchange is lineitem ⋈ orders plus the final group — the
    // q223 wide-star discipline on the OTHER classic shape. Money in
    // DECIMAL(18,2) exact sums, rounded once at the end.
    "q242_trade_flows" -> { (s, d) =>
      val vol = (dec(col("l_extendedprice")) *
        dec(lit(1) - col("l_discount"))).as("vol")
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), vol)
      val ord = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("yr"))
      val cust = Tables.t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
        .agg(round(sum(col("vol")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // HERFINDAHL–HIRSCHMAN market-concentration index per nation —
    // the antitrust scalar beside q231's Gini: HHI = Σᵢ shareᵢ², with
    // supplier revenue shares inside each nation's market, reported
    // ×10⁸ in exact integers (numerator Σrᵢ² summed in DECIMAL(38,0):
    // per-supplier squares fit int64 but their nation sum ≈ 2e19 at
    // sf0.1 does not; DuckDB's hugeint twin matches). One fact
    // groupBy + two broadcast dimension joins + one nation aggregate.
    "q238_market_hhi" -> { (s, d) =>
      val rev = Tables.t(s, d, "lineitem")
        .select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
        .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("r"))
      rev
        .join(broadcast(Tables.t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"), sum(col("r")).as("tot_cents"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("sq"))
        .select(col("n_name"), col("n_suppliers"), col("tot_cents"),
          expr("(sq * 100000000) div " +
            "(CAST(tot_cents AS DECIMAL(38,0)) * tot_cents)")
            .as("hhi_x10k8"))
    },

    // SPEARMAN RANK CORRELATION between customer order frequency and
    // customer spend — do the most frequent buyers spend the most?
    // Ranks are injective (custkey tie-break, the q229 convention), so
    // ρ = 1 − 6Σd²/(n(n²−1)) is exact integer arithmetic end to end:
    // two globalCumsum rank passes + one aggregate, ρ in basis points
    // via nonneg floor div (the subtraction carries the sign, never
    // the division). Σd²·6·10⁴ ≈ 6.7e16 at sf0.1 — int64-safe.
    "q239_rank_correlation" -> { (s, d) =>
      val cust = Tables.t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("freq"),
          sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
      val r1 = Relational.globalCumsum(cust,
        Seq(col("freq").desc, col("o_custkey")), lit(1L), "f_rnk")
      val r2 = Relational.globalCumsum(r1,
        Seq(col("cents").desc, col("o_custkey")), lit(1L), "m_rnk")
      r2.select((col("f_rnk") - col("m_rnk")).as("dd"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("dd") * col("dd")).as("sum_d2"),
          sum(abs(col("dd"))).as("sum_abs_d"))
        .select(col("n_cust"), col("sum_d2"), col("sum_abs_d"),
          expr("10000 - (sum_d2 * 60000) div " +
            "greatest(n_cust * (n_cust * n_cust - 1), 1L)")
            .as("rho_x10k"))
    },

    // PROPORTIONAL sample-budget ALLOCATION by largest-remainder
    // apportionment (Hare quota — public): a 1000-row sample budget
    // split across the order-priority strata proportionally to their
    // revenue mass, in EXACT integer arithmetic — base seats =
    // mass·B div M, leftover seats to the largest remainders
    // ((rem DESC, stratum) — deterministic), Σ n_alloc = B by
    // construction. The eval-set/stratified-sampling planning step a
    // 100 TB curation pipeline runs before drawing: per-stratum counts
    // and masses are one keyed aggregate, the apportionment itself
    // touches only the ≤5-row strata table (the single-partition
    // window is over strata, never rows). mass·1000 ≤ ~10¹⁶ at sf0.1
    // — int64-safe; at extreme scale widen to DECIMAL(38,0), the q231
    // pattern.
    "q259_sample_allocation" -> { (s, d) =>
      val st = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("stratum"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("mass_cents"))
      val tot = st.agg(sum(col("mass_cents")).as("m_total"))
      val base = st.crossJoin(broadcast(tot))
        .select(col("stratum"), col("n_rows"), col("mass_cents"),
          expr("mass_cents * 1000 div m_total").as("n_base"),
          expr("mass_cents * 1000 % m_total").as("rem"))
      val left = base.agg((lit(1000L) - sum(col("n_base"))).as("n_left"))
      val w = Window.orderBy(col("rem").desc, col("stratum"))
      base.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("stratum"), col("n_rows"), col("mass_cents"),
          col("n_base"), col("rem"),
          (col("n_base") +
            when(col("rk") <= col("n_left"), 1L).otherwise(0L))
            .as("n_alloc"))
    },

    // BENFORD'S-LAW census on order totals — the forensic data-quality
    // screen: observed leading-digit shares vs the Benford expectation
    // log10(1+1/d), both in integer basis points (the expectation as
    // floored LITERALS shared with the oracle — no runtime log). One
    // scan + one 9-group aggregate; the total is a broadcast 1-row
    // scalar (q42 shape). Leading digit via floor→string on values
    // ≥ 1 (o_totalprice ≥ 900 by construction at every SF).
    "q233_benford_census" -> { (s, d) =>
      val ben = Map(1L -> 3010L, 2L -> 1760L, 3L -> 1249L, 4L -> 969L,
        5L -> 791L, 6L -> 669L, 7L -> 579L, 8L -> 511L, 9L -> 457L)
      val o = Tables.t(s, d, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
      val tot = o.agg(count(lit(1)).as("n"))
      o.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          expr("n_obs * 10000 div n").as("obs_x10k"),
          element_at(typedLit(ben), col("digit")).as("benford_x10k"))
        .withColumn("abs_dev_x10k",
          abs(col("obs_x10k") - col("benford_x10k")))
    },

    // GEOCODING ENRICHMENT end-to-end under the gate — the reference's
    // Affiliations_FC flow (tuple-strings "('CAN', 'Grande Prairie')"
    // parsed ad hoc in its Geocoding notebook, cells 10-14): ingest an
    // Affiliations_FC-SHAPED TSV through the DECLARED catalog reader
    // (MagTables.affiliationsFC — the F10 parser applied at ingest, so
    // downstream sees a typed fc struct, never tuple syntax), then
    // ENRICH by joining the parsed country against the nation→region
    // dimensions and rolling up. Same-file gate: the DuckDB oracle
    // reads the very TSV the Spark side ingested and replays the
    // regexp parse, so reader AND parser sit under the hash check.
    "q183_geo_enrichment" -> { (s, d) =>
      val nat = broadcast(Tables.nation(s, d))
      val afc = graft.schema.MagTables
        .affiliationsFC(s, affiliationsFcDir(s, d))
      afc.select(col("id"), col("fc.country_code").as("cc"),
          col("fc.city").as("city"))
        .join(nat, col("cc") === col("n_name"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("city"))
        .agg(count(lit(1)).as("n_suppliers"),
          countDistinct(col("cc")).as("n_countries"))
    },

    // ASSOCIATION-RULE mining over the order basket — "brands bought
    // together" (Agrawal-Srikant support/confidence/lift, public):
    // baskets = distinct (order, brand), pairs by the q15 self-join
    // shape (never collect-then-explode), support gate as the integer
    // cross-multiply n_ab·100 ≥ N (≥ 1% of orders — SF-independent),
    // and the rule statistics in exact integer moments with ONE IEEE
    // division each for the rounded confidence and lift (the
    // q158-for-the-star-schema modality: basket mining, not text).
    "q176_copurchase_rules" -> { (s, d) =>
      val ob = graft.Checkpoints.checkpoint(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.t(s, d, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
          .distinct())
      val nA = ob.groupBy(col("b")).agg(count(lit(1)).as("n_single"))
      val tot = ob.agg(countDistinct(col("ok")).as("n_orders"))
      val pairs = ob.join(ob.select(col("ok"), col("b").as("b2")), "ok")
        .filter(col("b") < col("b2"))
        .groupBy(col("b").as("brand_a"), col("b2").as("brand_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs.crossJoin(broadcast(tot))
        .filter(col("n_ab") * 100 >= col("n_orders"))
        .join(nA.select(col("b").as("brand_a"), col("n_single").as("n_a")),
          "brand_a")
        .join(nA.select(col("b").as("brand_b"), col("n_single").as("n_b")),
          "brand_b")
        .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("n_orders"),
          round(col("n_ab").cast("double") / col("n_a"), 4).as("conf"),
          round((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")), 4).as("lift"))
    },

    // Per-GROUP OLS trend — grouped linear regression of monthly
    // revenue on the month index, per customer nation: the exact
    // integer moments (n, Σx, Σy, Σxy, Σx²) plus the closed-form
    // slope as the rational n·Σxy − Σx·Σy over n·Σx² − (Σx)² — both
    // emitted as exact int64 (the q96/q164 moments discipline), the
    // double slope spending exactly ONE IEEE division. Monthly
    // pre-aggregation is map-side combinable; the per-group series is
    // #months rows however large orders grows.
    "q168_group_trend" -> { (s, d) =>
      val monthly = Tables.t(s, d, "orders")
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) -
            lit(1992 * 12 + 1)).cast("long").as("x"))
        .agg(call_function("div",
          sum((dec(col("o_totalprice")) * 100).cast("long")),
          lit(100L)).as("y"))
      monthly.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"))
        .select(col("n_name"), col("n"), col("sum_x"), col("sum_y"),
          col("sum_xy"), col("sum_x2"),
          (col("n") * col("sum_xy") - col("sum_x") * col("sum_y"))
            .as("slope_num"),
          (col("n") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .as("slope_den"))
        .withColumn("slope",
          round(col("slope_num").cast("double") /
            col("slope_den").cast("double"), 4))
    },

    // Seasonal-trend split of the daily revenue series by centered
    // 7-day moving window — all-integer decomposition: trend7 = the
    // full 7-day window SUM (only days with all 7 neighbors present),
    // resid7 = 7·x − trend7 (the de-trended residual scaled by 7 —
    // no division anywhere, so every value replays exactly). The
    // series is #days rows after one map-side-combinable aggregate;
    // the window is per-series and bounded.
    "q169_trend_decomposition" -> { (s, d) =>
      val day = call_function("div",
        unix_timestamp(col("o_orderdate")), lit(86400L))
      val series = Tables.t(s, d, "orders")
        .groupBy(day.as("day"))
        .agg(call_function("div",
          sum((dec(col("o_totalprice")) * 100).cast("long")),
          lit(100L)).as("x"))
      val w = Window.orderBy(col("day")).rangeBetween(-3, 3)
      series
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("trend7", sum(col("x")).over(w))
        .filter(col("n_win") === 7)
        .select(col("day"), col("x"), col("trend7"),
          (lit(7L) * col("x") - col("trend7")).as("resid7"))
    },

    // Lag-k AUTOCORRELATION of the daily revenue series — the
    // time-series diagnostic between q159's weekday profile and q06's
    // point forecast: aggregate orders to one exact dollars-per-day
    // value (map-side combinable; the series is ~#days rows however
    // large the table), then pair each day with day+lag for lag ∈
    // {1, 7} and emit the exact integer MOMENTS of the paired series
    // (n, Σx, Σy, Σxy, Σx², Σy²) per lag — Pearson r_k is a pure
    // derivation, so the oracle checks the whole computation with
    // zero float risk (the q96 moments discipline on a time series).
    // Whole dollars keep Σxy inside int64 through ~sf0.3; beyond,
    // the same expressions in DECIMAL(38,0) are exact.
    "q164_autocorrelation" -> { (s, d) =>
      val day = call_function("div",
        unix_timestamp(col("o_orderdate")), lit(86400L))
      val series = Tables.t(s, d, "orders")
        .groupBy(day.as("day"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("cents"))
        .select(col("day"),
          call_function("div", col("cents"), lit(100L)).as("x"))
      val shifted = series
        .select(col("day"), col("x"),
          explode(array(lit(1L), lit(7L))).as("lag"))
        .select(col("lag"), (col("day") + col("lag")).as("day"), col("x"))
      shifted.join(series.select(col("day"), col("x").as("y")), "day")
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
    },

    // MERGEABLE quantile sketch — q113's exact form needs the full
    // ranked pass; streams and partial rollups need a summary that
    // MERGES. QDigestAgg (functions/QDigest.scala) is a deterministic
    // integer q-digest whose rank-error bound holds under ANY
    // partial-merge order, which is what makes a sketch
    // hash-oracle-checkable at all: the query emits the exact ε-window
    // around each target rank (q113's two-phase rank machinery) plus
    // WHETHER the sketch value landed inside; DuckDB replays the
    // window exactly and expects within = TRUE, so a sketch breaking
    // its declared bound is a hash MISMATCH, not a silent regression.
    // Window semantics follow the sketch's one-sided guarantees: the
    // answer's count(≤ans) ≥ target (so ans ≥ v@(tr−w) with w pure
    // slack), while count(<ans) ≤ target+w means ans ≤ v@(tr+w+1) —
    // the answer may be an internal-node upper bound that is NOT a
    // data value, and when tr+w+1 > n the upper side is legitimately
    // unconstrained. The 1-row sketch joins in as a broadcast scalar
    // (registered intended NLJ).
    "q120_quantile_sketch" -> { (s, d) =>
      import s.implicits._
      val probs = Seq(0.25, 0.5, 0.75, 0.99)
      val agg = graft.functions.QDigestAgg(24, 4096, probs)
      // four consumers of the projected column (count, the rank's
      // range sampler, the rank itself, the digest scan) — checkpoint
      // once instead of four parquet passes
      val li = graft.Checkpoints.checkpoint(Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("v")))
      val n = li.count() // bounded scalar (q110 loop-parameter convention)
      val w = math.ceil(agg.declaredEps * n).toLong
      val targets = probs.zipWithIndex.map { case (p, i) =>
        val tr = math.max(1L, math.ceil(p * n).toLong)
        (p, i + 1, tr, math.max(1L, tr - w), math.min(n, tr + w + 1),
          tr + w + 1 > n)
      }.toDF("p", "pi", "target_rank", "lo_rank", "hi_rank", "hi_open")
      val ranked = graft.operators.Relational.globalCumsum(
        li, Seq(col("v")), lit(1L), "rnk")
      val lo = ranked.join(broadcast(targets), col("rnk") === col("lo_rank"))
        .select(col("p"), col("pi"), col("target_rank"), col("hi_open"),
          col("v").as("v_lo"))
      val hi = ranked.join(
          broadcast(targets.select(col("p").as("p2"), col("hi_rank"))),
          col("rnk") === col("hi_rank"))
        .select(col("p2"), col("v").as("v_hi"))
      val sk = li.agg(agg(col("v")).as("qs"))
      lo.join(hi, col("p") === col("p2"))
        .crossJoin(broadcast(sk))
        .select(col("p"), lit(n).as("n_rows"), col("target_rank"),
          col("v_lo"), col("v_hi"),
          (element_at(col("qs"), col("pi").cast("int")) >= col("v_lo") &&
            (col("hi_open") ||
              element_at(col("qs"), col("pi").cast("int")) <= col("v_hi")))
            .as("within"))
    },

    // O3 "sample" — the reference only WISHED for random sampling
    // (`MagDwarf.scala:66` comment; `shuf -n 1000` shell scripts).
    // Implemented as a deterministic Bernoulli sample via Knuth
    // multiplicative hashing: exact integer arithmetic on both engines,
    // so the sample (≈10%) is reproducible and oracle-checkable —
    // unlike `df.sample(seed)`, whose output depends on partitioning.
    // Multiplier choice is load-bearing twice over: it must keep
    // key*mult within int64 (DuckDB RAISES on BIGINT overflow where
    // Spark wraps silently), and it must be large enough that the
    // product WRAPS the modulus even for small keys — a non-wrapping
    // multiply is monotone, not a hash, and the "sample" degenerates
    // to `key < threshold`. 1103515245 (glibc LCG) wraps from key=2
    // up and stays in int64 for keys below ~8.3e9; measured sample
    // fraction is 9.95-10.0% at sf0.001/0.01/0.1. Keys are guarded
    // non-negative: Spark's pmod maps into [0, m) where DuckDB's %
    // keeps the sign, so a negative key would silently diverge — the
    // guard makes the parity contract independent of the fixture's
    // key range.
    "q67_hash_sample" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") >= 0 &&
          lcgHash(col("l_orderkey")) < 214748365L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"),
          round(sum(dec(col("l_quantity"))), 2).cast("double").as("sum_qty"))
    },

    // Ranking/analytic window functions q38 does not cover: ntile,
    // percent_rank, cume_dist (exact integer-ratio doubles — identical
    // on both engines), nth_value over an explicit rows frame. The
    // ordering key is unique per partition, so every rank is total.
    "q62_window_ranks" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"))
        .withColumn("ntile4", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },

    // Bloom-filter SEMI-JOIN REDUCTION (Joins.bloomPrefilterJoin) —
    // the big-to-big selective join at 100 TB: the high-value order
    // set (~10% of orders) is too big to broadcast as a hash relation
    // at scale, but its Bloom filter is ~10 bits/key; broadcasting THE
    // FILTER and dropping non-matching lineitems before the join's
    // exchange cuts the fact-side shuffle to roughly the dim
    // selectivity. Result is EXACTLY the plain join (the oracle): the
    // Bloom only over-admits and the exact join removes false
    // positives — which is what makes a probabilistic structure
    // hash-oracle-checkable. The one-row filter scalar is a registered
    // intended NLJ (q42 convention); JoinsSpec holds the
    // no-false-negative, determinism, fpp, and reduction properties.
    "q121_bloom_join" -> { (s, d) =>
      val dim = graft.Checkpoints.checkpoint(Tables.orders(s, d)
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"), col("o_orderpriority")))
      graft.operators.Joins.bloomPrefilterJoin(
          Tables.lineitem(s, d), "l_orderkey", dim, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(dec(col("l_extendedprice"))), 2).cast("double")
            .as("sum_price"))
    },

    // CDC apply (Cdc.snapshot) — the lakehouse MERGE shape: a
    // deterministic changelog derived from the base (two update waves,
    // a delete wave, an insert wave; latest seq wins, %77 keys prove
    // delete-over-update) folds into the current snapshot with ONE
    // keyed shuffle + WindowGroupLimit top-1. The oracle re-derives
    // the same log and replays latest-wins in SQL.
    "q129_cdc_snapshot" -> { (s, d) =>
      val base = Tables.orders(s, d).filter(col("o_orderkey") >= 0)
      graft.operators.Cdc.snapshot(base, ordersChangelog(base),
        Seq("o_orderkey"), "seq", "op")
    },

    // Snapshot DIFF / reconciliation (Cdc.snapshotDiff scaladoc): the
    // census between the base orders table and the q129 changelog
    // replay — added / removed / changed / identical keys plus
    // per-column change counts, in ONE keyed full-outer join + one
    // wide aggregate. The check a lakehouse pipeline runs before
    // swapping a rebuilt snapshot live.
    "q180_snapshot_diff" -> { (s, d) =>
      val base = Tables.orders(s, d).filter(col("o_orderkey") >= 0)
      val after = graft.operators.Cdc.snapshot(base,
        ordersChangelog(base), Seq("o_orderkey"), "seq", "op")
      graft.operators.Cdc.snapshotDiff(base, after, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    },

    // Pareto SKYLINE (Relational.skyline) — the maximal frontier of
    // the customer base on (order count, lifetime spend, recency):
    // customers no other customer beats on all three at once. Exact
    // integer dims (cents via the DECIMAL cast, epoch days via the
    // q164 floor-div); the operator runs prune → per-partition
    // frontier → frontier-sized merge, while the oracle is the O(n²)
    // NOT-EXISTS dominance self-join the operator exists to avoid.
    "q194_customer_frontier" -> { (s, d) =>
      val day = call_function("div",
        unix_timestamp(col("o_orderdate")), lit(86400L))
      val cust = Tables.orders(s, d).filter(col("o_custkey") >= 0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum((dec(col("o_totalprice")) * 100).cast("long"))
            .as("spend_cents"),
          max(day).as("last_day"))
      graft.operators.Relational.skyline(cust,
        Seq("n_orders", "spend_cents", "last_day"))
    },

    // SCD2 history (Cdc.history) over the same derived changelog:
    // every version a key ever had with its [valid_from, valid_to)
    // sequence interval — lead() inside the per-key ordering the
    // snapshot's ranking already shuffled for. Delete markers close
    // the prior version without emitting one.
    "q131_cdc_history" -> { (s, d) =>
      val base = Tables.orders(s, d).filter(col("o_orderkey") >= 0)
      val upd1 = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U1").as("o_orderstatus"),
          round(dec(col("o_totalprice")) + dec(lit(10)), 2).cast("double")
            .as("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"),
          lit(1L).as("seq"), lit("U").as("op"))
      val dels = base.filter(col("o_orderkey") % 11 === 0)
        .select(base.columns.map(col) :+ lit(3L).as("seq")
          :+ lit("D").as("op"): _*)
      graft.operators.Cdc.history(base, upd1.unionByName(dels),
        Seq("o_orderkey"), "seq", "op")
    },

    // Join-SIZE estimation without running the join (Sketches.
    // countMinJoinSize — the CM inner-product estimator): the m:n
    // lineitem⋈lineitem-on-partkey join's cardinality screened from
    // two 3×256 counter matrices instead of the join's own shuffle.
    // est ≥ exact always (nonnegative collision mass — the spec
    // property); exact rides along via grouped key counts so the
    // overshoot is visible. All long arithmetic — the oracle replays
    // every cell, both inner products, and the depth-min.
    "q135_cm_join_size" -> { (s, d) =>
      import graft.operators.Sketches
      // checkpointed: two consumers: cells + exact counts
      val a = graft.Checkpoints.checkpoint(Tables.lineitem(s, d)
        .select(col("l_partkey").cast("string").as("k")))
      val b = graft.Checkpoints.checkpoint(Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00"))
        .select(col("l_partkey").cast("string").as("k")))
      val est = Sketches.countMinJoinSize(
        Sketches.countMinCells(a, col("k"), CmJsMults, CmJsWidth),
        Sketches.countMinCells(b, col("k"), CmJsMults, CmJsWidth))
      val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
        .agg(sum(col("ca") * col("cb")).as("exact_join_size"))
      est.crossJoin(exact) // 1-row × 1-row scalar combine
    },

    // Data-quality expectations (Quality.expect): the publish gate a
    // 100 TB ingest runs — 5 row rules in ONE conditional-agg scan,
    // a PK-uniqueness groupBy, and two FK left-anti probes, emitted as
    // (rule, violations, pass) rows. The tax ceiling rule is
    // deliberately tighter than the data so BOTH branches of `pass`
    // appear in the gated output; the oracle replays every rule.
    "q136_quality_gate" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      graft.operators.Quality.expect(li,
        rowRules = Seq(
          "l_quantity_in_1_50" ->
            !col("l_quantity").between(1, 50),
          "l_discount_in_0_010" ->
            !col("l_discount").between(0.0, 0.10),
          "l_tax_at_most_005" -> (col("l_tax") > 0.05),
          "l_shipdate_not_null" -> col("l_shipdate").isNull,
          "l_returnflag_in_domain" ->
            !col("l_returnflag").isin("A", "N", "R")),
        uniqueRules = Seq(
          "lineitem_pk_unique" -> Seq("l_orderkey", "l_linenumber")),
        fkRules = Seq(
          ("l_orderkey_in_orders", "l_orderkey",
            Tables.t(s, d, "orders"), "o_orderkey"),
          ("l_partkey_in_part", "l_partkey",
            Tables.t(s, d, "part"), "p_partkey")))
    },

    // Column profiler (Profile.profile): per-column n/nulls/ndv/min/
    // max + exact 8-bucket equi-width histograms from ONE melt of the
    // table — the ANALYZE-style ingestion statistics pass. Bucket ids
    // are pure IEEE arithmetic over the broadcast [min, max], so both
    // engines derive them bit-identically.
    "q130_column_profile" -> { (s, d) =>
      graft.operators.Profile.profile(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // SQL entry point (S10 + the sql/ module): the whole surface is
    // reachable as ANSI SQL over catalog views — this query runs
    // entirely through spark.sql, exercising GROUPING SETS (the
    // general form behind rollup q33 / cube q39).
    "q57_grouping_sets_sql" -> { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("""
        SELECT n_name, o_orderpriority,
          count(*) AS n_orders,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
            AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
                                (o_orderpriority), ())""")
    }
  )

  // q135 sketch geometry (the q122 depth/width convention) and the
  // DuckDB twin of PolyHash over a VARCHAR expression.
  private val CmJsMults = Seq(31L, 37L, 41L)
  private val CmJsWidth = 256
  private def cmHashSql(e: String, mult: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, x) -> (a * $mult + x) % 1000000007)"

  val oracles: Map[String, String] = Map(
    // q219: one SELECT of scalar subqueries per FK edge, generated
    // from the SAME fkEdges list as the census itself.
    "q219_fk_census" -> fkEdges.map { case (nm, ct, ck, pt, pk) =>
      s"""SELECT '$nm' AS fk_name,
         |  CAST((SELECT count(*) FROM $ct) AS BIGINT) AS n_child,
         |  CAST((SELECT count(*) FROM $ct WHERE $ck IS NULL) AS BIGINT)
         |    AS n_null_fk,
         |  CAST((SELECT count(*) FROM $ct c WHERE c.$ck IS NOT NULL
         |    AND NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pk = c.$ck))
         |    AS BIGINT) AS n_orphans,
         |  CAST((SELECT count(DISTINCT $ck) FROM $ct) AS BIGINT)
         |    AS n_distinct_fk,
         |  CAST((SELECT count(*) FROM $pt) AS BIGINT) AS n_parents,
         |  CAST((SELECT count(*) FROM $pt p WHERE NOT EXISTS
         |    (SELECT 1 FROM $ct c WHERE c.$ck = p.$pk)) AS BIGINT)
         |    AS n_unreferenced""".stripMargin
    }.mkString("\nUNION ALL\n"),

    // q223: the 8-relation join replayed with the same DECIMAL(18,2)
    // sums and the one rounded IEEE division over the rounded sums.
    "q223_market_share" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(18,2)) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |a AS (SELECT CAST(o_year AS BIGINT) AS o_year,
        |    CAST(round(sum(vol), 2) AS DOUBLE) AS total_rev,
        |    CAST(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |      ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
        |      AS nation_rev
        |  FROM j GROUP BY 1)
        |SELECT o_year, total_rev, nation_rev,
        |  round(nation_rev / total_rev, 4) AS mkt_share FROM a""".stripMargin,

    // q135: every cell of both matrices, both inner products, and the
    // depth-min replayed; HUGEINT sums cast back to BIGINT.
    "q135_cm_join_size" -> {
      def cells(src: String) = CmJsMults.zipWithIndex.map { case (m, i) =>
        s"SELECT $i AS i, (${cmHashSql("k", m)}) % $CmJsWidth AS cell, " +
          s"count(*) AS c FROM $src GROUP BY 2"
      }.mkString(" UNION ALL ")
      s"""WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
         |b AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
         |      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'),
         |ca AS (${cells("a")}),
         |cb AS (${cells("b")}),
         |e AS (SELECT ca.i, sum(ca.c * cb.c) AS est_i
         |      FROM ca JOIN cb ON ca.i = cb.i AND ca.cell = cb.cell
         |      GROUP BY 1),
         |xa AS (SELECT k, count(*) AS c FROM a GROUP BY 1),
         |xb AS (SELECT k, count(*) AS c FROM b GROUP BY 1)
         |SELECT (SELECT CAST(min(est_i) AS BIGINT) FROM e)
         |    AS est_join_size,
         |  (SELECT CAST(sum(xa.c * xb.c) AS BIGINT)
         |   FROM xa JOIN xb ON xa.k = xb.k) AS exact_join_size""".stripMargin
    },

    // q136: each rule family replayed with the same null semantics —
    // FILTER(WHERE pred) skips null predicates exactly as when(pred,1)
    // does; FK rules exempt null keys; uniqueness counts rows beyond
    // the first per key.
    "q136_quality_gate" ->
      """WITH rules AS (
        |  SELECT 'l_quantity_in_1_50' AS rule, CAST(count(*) FILTER (
        |      WHERE NOT (l_quantity BETWEEN 1 AND 50)) AS BIGINT)
        |    AS violations FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount_in_0_010', CAST(count(*) FILTER (
        |      WHERE NOT (l_discount BETWEEN 0.0 AND 0.10)) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax_at_most_005', CAST(count(*) FILTER (
        |      WHERE l_tax > 0.05) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate_not_null', CAST(count(*) FILTER (
        |      WHERE l_shipdate IS NULL) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag_in_domain', CAST(count(*) FILTER (
        |      WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_pk_unique', CAST(coalesce(sum(c - 1), 0)
        |      AS BIGINT)
        |    FROM (SELECT count(*) AS c FROM lineitem
        |          GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'l_orderkey_in_orders', CAST(count(*) FILTER (
        |      WHERE o_orderkey IS NULL) AS BIGINT)
        |    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |    WHERE l_orderkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_partkey_in_part', CAST(count(*) FILTER (
        |      WHERE p_partkey IS NULL) AS BIGINT)
        |    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |    WHERE l_partkey IS NOT NULL)
        |SELECT rule, violations, violations = 0 AS pass FROM rules""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_charge,
        | round(CAST(sum(l_quantity) AS DOUBLE) / count(*), 2) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_parts_filter" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type IN ('SMALL','ECONOMY')
        |  AND p_name LIKE '%bolt%'""".stripMargin,

    "q03_topk_revenue" ->
      """WITH rev AS (
        |  SELECT l_orderkey, o_orderdate,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate)
        |SELECT l_orderkey, o_orderdate, revenue FROM (
        |  SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey) rn FROM rev)
        |WHERE rn <= 10""".stripMargin,

    "q04_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority""".stripMargin,

    "q05_region_volume" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q06_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,

    "q07_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND year(o_orderdate) = 1995)""".stripMargin,

    "q08_customer_order_stats" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0), 2) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q09_cumulative_orders" ->
      """WITH by_year AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, yr, n_orders,
        |  CAST(sum(n_orders) OVER (PARTITION BY o_custkey ORDER BY yr
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders
        |FROM by_year""".stripMargin,

    "q10_yearly_grid" ->
      """WITH c AS (SELECT DISTINCT o_custkey FROM orders),
        |y AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
        |cnt AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |        CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2)
        |SELECT c.o_custkey, y.yr,
        |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_orders,
        |  CAST(sum(coalesce(cnt.n, 0)) OVER (PARTITION BY c.o_custkey ORDER BY y.yr
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders
        |FROM c CROSS JOIN y
        |LEFT JOIN cnt ON cnt.o_custkey = c.o_custkey AND cnt.yr = y.yr""".stripMargin,

    "q11_top3_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q12_part_supplier_stats" ->
      """SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY l_partkey""".stripMargin,

    "q13_order_partlist" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q14_active_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000""".stripMargin,

    "q68_retained_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999""".stripMargin,

    "q38_window_suite" ->
      """WITH m AS (
        |  SELECT l_suppkey,
        |    CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS mth_s,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, mth_s, rev,
        |  CAST(rank() OVER (PARTITION BY l_suppkey
        |    ORDER BY rev DESC, mth_s) AS BIGINT) AS rnk,
        |  lag(rev) OVER (PARTITION BY l_suppkey ORDER BY mth_s) AS prev_rev,
        |  round(sum(rev) OVER (PARTITION BY l_suppkey ORDER BY mth_s
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov_sum3
        |FROM m""".stripMargin,

    "q39_cube_summary" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q55_branded_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q52_returns_by_quarter" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  CAST(quarter(l_shipdate) AS BIGINT) AS qtr,
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
        |    ELSE 0.0 END) AS DOUBLE), 2) AS returned_qty,
        |  round(CAST(sum(CASE WHEN l_returnflag <> 'R' THEN l_quantity
        |    ELSE 0.0 END) AS DOUBLE), 2) AS kept_qty,
        |  CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
        |    AS n_returns
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q53_small_quantity_revenue" ->
      """WITH a AS (SELECT l_partkey,
        |    CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity < a.avg_qty * 0.2""".stripMargin,

    "q50_sole_blame" ->
      """WITH lines AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |heavy AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |          WHERE l_quantity >= 48)
        |SELECT h.l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |FROM heavy h
        |WHERE EXISTS (SELECT 1 FROM lines o WHERE o.l_orderkey = h.l_orderkey
        |              AND o.l_suppkey <> h.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM heavy x WHERE x.l_orderkey = h.l_orderkey
        |                  AND x.l_suppkey <> h.l_suppkey)
        |GROUP BY h.l_suppkey""".stripMargin,

    "q45_price_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // grouped nearest-rank: same DOUBLE-p discipline as q113
    "q117_grouped_quantiles" ->
      """WITH o AS (SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_extendedprice) AS rnk,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |t AS (SELECT unnest([(0.25)::DOUBLE, (0.5)::DOUBLE,
        |                     (0.75)::DOUBLE, (0.99)::DOUBLE]) AS p)
        |SELECT o.l_returnflag, t.p, o.v
        |FROM o JOIN t ON o.rnk = greatest(1, CAST(ceil(t.p * o.n) AS BIGINT))""".stripMargin,

    // q162: the same cents-exact bucket arithmetic over scalar min/max
    "q162_equiwidth_histogram" ->
      """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents FROM orders),
        |mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o),
        |b AS (SELECT cents, lo, hi,
        |        (cents - lo) * 16 // (hi - lo + 1) AS bucket
        |      FROM o, mm)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(cents) AS BIGINT) AS bucket_min,
        |  CAST(max(cents) AS BIGINT) AS bucket_max
        |FROM b GROUP BY 1, 2, 3""".stripMargin,

    // q229: row_number over each metric with the same tie-breaks, the
    // same ((rank−1)·4 // n) quartile formula.
    "q229_rfm_segments" ->
      """WITH cust AS (SELECT o_custkey, max(o_orderdate) AS last_dt,
        |    count(*) AS freq,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM cust),
        |r AS (SELECT o_custkey,
        |    row_number() OVER (ORDER BY last_dt DESC, o_custkey) AS r_rnk,
        |    row_number() OVER (ORDER BY freq DESC, o_custkey) AS f_rnk,
        |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS m_rnk
        |  FROM cust)
        |SELECT o_custkey,
        |  CAST(4 - (((r_rnk - 1) * 4) // n) AS BIGINT) AS r_score,
        |  CAST(4 - (((f_rnk - 1) * 4) // n) AS BIGINT) AS f_score,
        |  CAST(4 - (((m_rnk - 1) * 4) // n) AS BIGINT) AS m_score,
        |  CAST((4 - (((r_rnk - 1) * 4) // n)) * 100
        |    + (4 - (((f_rnk - 1) * 4) // n)) * 10
        |    + (4 - (((m_rnk - 1) * 4) // n)) AS BIGINT) AS rfm_code
        |FROM r, nn""".stripMargin,

    // q230/q231 share the ascending ranked-revenue CTE; q230 buckets
    // it into deciles, q231 folds it into the rank-sum Gini identity
    // (hugeint products — DuckDB's sum(BIGINT) is int128 already).
    "q230_lorenz_deciles" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |rr AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rnk
        |  FROM rev),
        |nn AS (SELECT count(*) AS n, sum(cents) AS total FROM rev),
        |dc AS (SELECT ((rnk - 1) * 10 // n) + 1 AS decile,
        |    count(*) AS n_cust, sum(cents) AS rev_cents,
        |    max(total) AS total
        |  FROM rr, nn GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_cust AS BIGINT) AS n_cust,
        |  CAST(rev_cents AS BIGINT) AS rev_cents,
        |  CAST(sum(rev_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_rev_cents,
        |  CAST(sum(rev_cents) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 10000 // total AS BIGINT) AS cum_share_x10k
        |FROM dc""".stripMargin,

    "q231_revenue_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |rr AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rnk
        |  FROM rev),
        |nn AS (SELECT count(*) AS n, sum(cents) AS total FROM rev),
        |g AS (SELECT max(n) AS n_cust, max(total) AS total_cents,
        |    sum((rnk * 2 - n - 1) * cents) AS gnum
        |  FROM rr, nn)
        |SELECT CAST(n_cust AS BIGINT) AS n_cust,
        |  CAST(total_cents AS BIGINT) AS total_cents,
        |  CAST(gnum AS BIGINT) AS gini_num,
        |  CAST((gnum * 10000) // (n_cust::HUGEINT * total_cents)
        |    AS BIGINT) AS gini_x10k
        |FROM g""".stripMargin,

    // q232: the same ×n-scaled deviation (snx = n·cum − i·total) and
    // the same broadcast |max| peak flag.
    "q232_cusum_changepoint" ->
      """WITH daily AS (SELECT o_orderdate,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS rev_cents
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT count(*) AS n, sum(rev_cents) AS total FROM daily),
        |cc AS (SELECT o_orderdate, rev_cents,
        |    row_number() OVER (ORDER BY o_orderdate) AS i,
        |    sum(rev_cents) OVER (ORDER BY o_orderdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily),
        |sx AS (SELECT o_orderdate, rev_cents,
        |    CAST(n * cum - i * total AS BIGINT) AS snx
        |  FROM cc, nn),
        |mx AS (SELECT max(abs(snx)) AS mx FROM sx)
        |SELECT o_orderdate, CAST(rev_cents AS BIGINT) AS rev_cents, snx,
        |  CAST(CASE WHEN abs(snx) = mx THEN 1 ELSE 0 END AS BIGINT)
        |    AS at_peak
        |FROM sx, mx""".stripMargin,

    // q243: the same keyed count + deterministic top-10 + scalar
    // combine.
    "q243_skew_audit" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem
        |           GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows FROM c),
        |r AS (SELECT l_suppkey, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rk
        |  FROM c)
        |SELECT CAST(rk AS BIGINT) AS rk, l_suppkey,
        |  CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 10000 // n_rows AS BIGINT) AS share_x10k,
        |  CAST(cnt * n_keys * 10000 // n_rows AS BIGINT) AS skew_x10k,
        |  CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_rows AS BIGINT) AS n_rows
        |FROM r, t WHERE rk <= 10""".stripMargin,

    // q244: the same anchor trick (day − rank constant within a
    // consecutive run) and the same deterministic top-1.
    "q244_longest_streak" ->
      """WITH dd AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |rr AS (SELECT user_id, day, day - row_number() OVER (
        |    PARTITION BY user_id ORDER BY day) AS anchor FROM dd),
        |runs AS (SELECT user_id, anchor, count(*) AS streak_len,
        |    min(day) AS streak_start FROM rr GROUP BY 1, 2),
        |act AS (SELECT user_id, sum(streak_len) AS n_active_days
        |        FROM runs GROUP BY 1),
        |top AS (SELECT user_id, streak_len, streak_start,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY streak_len DESC, streak_start) AS rn
        |  FROM runs)
        |SELECT t.user_id, CAST(streak_len AS BIGINT) AS streak_len,
        |  CAST(streak_start AS BIGINT) AS streak_start,
        |  CAST(n_active_days AS BIGINT) AS n_active_days
        |FROM top t JOIN act a ON t.user_id = a.user_id
        |WHERE rn = 1""".stripMargin,

    // q241: the same cohort triangle — min-year cohorts, per-cohort
    // cumulative revenue window, floor-div CLV.
    "q241_clv_cohorts" ->
      """WITH o AS (SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |ch AS (SELECT o_custkey, min(yr) AS cohort_yr FROM o GROUP BY 1),
        |sz AS (SELECT cohort_yr, count(*) AS cohort_n FROM ch GROUP BY 1),
        |cl AS (SELECT ch.cohort_yr, o.yr - ch.cohort_yr AS age,
        |    count(DISTINCT o.o_custkey) AS n_active,
        |    sum(cents) AS rev_cents
        |  FROM o JOIN ch ON o.o_custkey = ch.o_custkey GROUP BY 1, 2)
        |SELECT CAST(cl.cohort_yr AS BIGINT) AS cohort_yr,
        |  CAST(age AS BIGINT) AS age,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(cohort_n AS BIGINT) AS cohort_n,
        |  CAST(rev_cents AS BIGINT) AS rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cl.cohort_yr
        |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW) AS BIGINT) AS cum_rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cl.cohort_yr
        |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW) // cohort_n AS BIGINT) AS clv_cents
        |FROM cl JOIN sz ON cl.cohort_yr = sz.cohort_yr""".stripMargin,

    // q242: the same 6-relation chain, CASE-free (full matrix), money
    // summed in DECIMAL then rounded once.
    "q242_trade_flows" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    // q238: hugeint squares (DuckDB sum(BIGINT·BIGINT) promotes; the
    // Spark side sums DECIMAL(38,0)), same ×10⁸ floor division.
    "q238_market_hhi" ->
      """WITH r AS (SELECT l_suppkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS r
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT n_name, r FROM r
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(r) AS BIGINT) AS tot_cents,
        |  CAST((sum(r::HUGEINT * r) * 100000000)
        |    // (sum(r)::HUGEINT * sum(r)) AS BIGINT) AS hhi_x10k8
        |FROM j GROUP BY 1""".stripMargin,

    // q239: the same two injective rank windows and the same scaled
    // Spearman identity.
    "q239_rank_correlation" ->
      """WITH cust AS (SELECT o_custkey, count(*) AS freq,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey,
        |    row_number() OVER (ORDER BY freq DESC, o_custkey) AS f_rnk,
        |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS m_rnk
        |  FROM cust),
        |g AS (SELECT count(*) AS n_cust,
        |    sum((f_rnk - m_rnk) * (f_rnk - m_rnk)) AS sum_d2,
        |    sum(abs(f_rnk - m_rnk)) AS sum_abs_d FROM r)
        |SELECT CAST(n_cust AS BIGINT) AS n_cust,
        |  CAST(sum_d2 AS BIGINT) AS sum_d2,
        |  CAST(sum_abs_d AS BIGINT) AS sum_abs_d,
        |  CAST(10000 - (sum_d2 * 60000)
        |    // greatest(n_cust::HUGEINT * (n_cust * n_cust - 1), 1)
        |    AS BIGINT) AS rho_x10k
        |FROM g""".stripMargin,

    // q233: identical floored-log10 literals; leading digit via the
    // same floor→string route.
    "q233_benford_census" ->
      """WITH o AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |    FROM orders),
        |nn AS (SELECT count(*) AS n FROM o),
        |g AS (SELECT digit, count(*) AS n_obs FROM o GROUP BY 1)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(n_obs * 10000 // n AS BIGINT) AS obs_x10k,
        |  CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
        |    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
        |    WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
        |    WHEN 9 THEN 457 END AS BIGINT) AS benford_x10k,
        |  CAST(abs(n_obs * 10000 // n - (CASE digit WHEN 1 THEN 3010
        |    WHEN 2 THEN 1760 WHEN 3 THEN 1249 WHEN 4 THEN 969
        |    WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579
        |    WHEN 8 THEN 511 WHEN 9 THEN 457 END)) AS BIGINT)
        |    AS abs_dev_x10k
        |FROM g, nn""".stripMargin,

    // q259: the same quota/base/remainder apportionment arithmetic.
    "q259_sample_allocation" ->
      """WITH st AS (SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS mass_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(mass_cents) AS BIGINT) AS m_total FROM st),
        |b AS (SELECT stratum, n_rows, mass_cents,
        |    mass_cents * 1000 // m_total AS n_base,
        |    mass_cents * 1000 % m_total AS rem
        |  FROM st, t),
        |l AS (SELECT 1000 - sum(n_base) AS n_left FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum)
        |    AS rk FROM b)
        |SELECT stratum, n_rows, mass_cents,
        |  CAST(n_base AS BIGINT) AS n_base, CAST(rem AS BIGINT) AS rem,
        |  CAST(n_base + CASE WHEN rk <= n_left THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_alloc
        |FROM r, l""".stripMargin,

    // q183's oracle is DYNAMIC (same-file FC fixture — see
    // [[dynamicOracles]])

    // q176: basket pairs, the same cross-multiplied support gate, and
    // one-division rounded confidence/lift
    "q176_copurchase_rules" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |na AS (SELECT b, CAST(count(*) AS BIGINT) AS n_single
        |       FROM ob GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
        |        FROM ob),
        |p AS (SELECT a.b AS brand_a, c.b AS brand_b,
        |        CAST(count(*) AS BIGINT) AS n_ab
        |      FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
        |      GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, na1.n_single AS n_a,
        |  na2.n_single AS n_b, tot.n_orders,
        |  round(CAST(n_ab AS DOUBLE) / na1.n_single, 4) AS conf,
        |  round(CAST(n_ab * tot.n_orders AS DOUBLE)
        |    / (na1.n_single * na2.n_single), 4) AS lift
        |FROM p CROSS JOIN tot
        |  JOIN na na1 ON p.brand_a = na1.b
        |  JOIN na na2 ON p.brand_b = na2.b
        |WHERE n_ab * 100 >= tot.n_orders""".stripMargin,

    // q168: the same monthly grid, moments, and rational slope;
    // 23905 = 1992·12 + 1 (the month-index origin)
    "q168_group_trend" ->
      """WITH monthly AS (SELECT n_name,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 23905
        |      AS BIGINT) AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) // 100 AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |m AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sum_x,
        |        CAST(sum(y) AS BIGINT) AS sum_y,
        |        CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |        CAST(sum(x * x) AS BIGINT) AS sum_x2
        |      FROM monthly GROUP BY 1)
        |SELECT n_name, n, sum_x, sum_y, sum_xy, sum_x2,
        |  n * sum_xy - sum_x * sum_y AS slope_num,
        |  n * sum_x2 - sum_x * sum_x AS slope_den,
        |  round(CAST(n * sum_xy - sum_x * sum_y AS DOUBLE)
        |    / CAST(n * sum_x2 - sum_x * sum_x AS DOUBLE), 4) AS slope
        |FROM m""".stripMargin,

    // q169: the same day series and centered RANGE window
    "q169_trend_decomposition" ->
      """WITH s AS (SELECT
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) // 100 AS x
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day, x,
        |    CAST(count(*) OVER win AS BIGINT) AS n_win,
        |    CAST(sum(x) OVER win AS BIGINT) AS trend7
        |  FROM s WINDOW win AS (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT day, x, trend7, 7 * x - trend7 AS resid7
        |FROM w WHERE n_win = 7""".stripMargin,

    // q194: the dominance definition verbatim — the O(n²) NOT-EXISTS
    // self-join over the same exact-integer customer dims. Strict
    // dominance (≥ everywhere, > somewhere); identical-vector ties
    // all survive on both engines.
    "q194_customer_frontier" ->
      """WITH c AS (SELECT o_custkey,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_cents,
        |    max(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400)
        |      AS last_day
        |  FROM orders WHERE o_custkey >= 0 GROUP BY 1)
        |SELECT o_custkey, n_orders, spend_cents, last_day FROM c a
        |WHERE NOT EXISTS (SELECT 1 FROM c b WHERE
        |  b.n_orders >= a.n_orders AND b.spend_cents >= a.spend_cents
        |  AND b.last_day >= a.last_day
        |  AND (b.n_orders > a.n_orders OR b.spend_cents > a.spend_cents
        |       OR b.last_day > a.last_day))""".stripMargin,

    // q164: the same day-bucket + dollars truncation + lag pairing;
    // floor(epoch()) because DuckDB CAST(double AS BIGINT) rounds
    // where Spark unix_timestamp truncates (the q159 lesson)
    "q164_autocorrelation" ->
      """WITH s AS (SELECT
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) // 100 AS x
        |  FROM orders GROUP BY 1),
        |l AS (SELECT CAST(lg.lag AS BIGINT) AS lag, day + lg.lag AS day, x
        |      FROM s, (VALUES (1), (7)) AS lg(lag))
        |SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(l.x) AS BIGINT) AS sum_x,
        |  CAST(sum(s2.x) AS BIGINT) AS sum_y,
        |  CAST(sum(l.x * s2.x) AS BIGINT) AS sum_xy,
        |  CAST(sum(l.x * l.x) AS BIGINT) AS sum_x2,
        |  CAST(sum(s2.x * s2.x) AS BIGINT) AS sum_y2
        |FROM l JOIN s s2 USING (day) GROUP BY 1""".stripMargin,

    // the Morton interleave replayed bit-for-bit as SQL bit arithmetic
    "q116_zorder_layout" -> {
      val z = (0 until 16).map(i =>
        s"(((l_partkey & ${1L << i}) << $i) | ((l_suppkey & ${1L << i}) << ${i + 1}))")
        .mkString(" | ")
      s"""SELECT ($z) >> 18 AS zbucket,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(l_partkey) AS BIGINT) AS min_p,
         |  CAST(max(l_partkey) AS BIGINT) AS max_p,
         |  CAST(min(l_suppkey) AS BIGINT) AS min_s,
         |  CAST(max(l_suppkey) AS BIGINT) AS max_s
         |FROM lineitem
         |WHERE l_partkey BETWEEN 0 AND 65535
         |  AND l_suppkey BETWEEN 0 AND 65535
         |GROUP BY 1""".stripMargin
    },

    // nearest-rank quantiles: the ::DOUBLE casts force the SAME IEEE
    // p*n product Scala computes — a DECIMAL p would round ceil
    // differently exactly when p*n lands on an integer
    "q113_exact_quantiles" ->
      """WITH o AS (SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rnk
        |  FROM lineitem),
        |n AS (SELECT count(*) AS c FROM lineitem),
        |t AS (SELECT p, greatest(1, CAST(ceil(p * c) AS BIGINT)) AS tr
        |      FROM (SELECT unnest([(0.01)::DOUBLE, (0.25)::DOUBLE,
        |                           (0.5)::DOUBLE, (0.75)::DOUBLE,
        |                           (0.99)::DOUBLE]) AS p) ps
        |      CROSS JOIN n)
        |SELECT t.p, o.v FROM t JOIN o ON o.rnk = t.tr""".stripMargin,

    // q266: same per-nation revenue grid, same unique total order, the
    // standard-SQL distribution window trio
    "q266_revenue_quartiles" ->
      """WITH qr AS (SELECT n_name, c_custkey,
        |    CAST(coalesce(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT)), 0) AS BIGINT) AS revenue_cents
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2)
        |SELECT n_name, c_custkey, revenue_cents,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume
        |FROM qr
        |WINDOW w AS (PARTITION BY n_name
        |             ORDER BY revenue_cents, c_custkey)""".stripMargin,

    // q267: same bins, same cumulative left census, the same
    // fixed-point purity-mass score (the ONE formula, rendered with //)
    "q267_decision_stump" ->
      s"""WITH st AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |sb AS (SELECT min(cents) AS lo, max(cents) AS hi FROM st),
        |sp AS (SELECT (cents - lo) * 32 // (hi - lo + 1) AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM st, sb GROUP BY 1),
        |stot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(pos) AS BIGINT) AS pp FROM sp),
        |scum AS (SELECT bin,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS n_left,
        |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS pos_left
        |  FROM sp),
        |ssc AS (SELECT bin, n_left, pos_left,
        |    nn - n_left AS n_right, pp - pos_left AS pos_right
        |  FROM scum, stot WHERE n_left < nn),
        |sfin AS (SELECT bin, n_left, pos_left, n_right, pos_right,
        |    $StumpScoreDuck AS score_x6
        |  FROM ssc)
        |SELECT bin, n_left, pos_left, n_right, pos_right,
        |  CAST(score_x6 AS BIGINT) AS score_x6,
        |  CAST(CASE WHEN row_number()
        |         OVER (ORDER BY score_x6 DESC, bin) = 1
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_best
        |FROM sfin""".stripMargin,

    // q269: same stacked three-feature census, same fixed-point score,
    // per-feature argmax then the cross-feature ranking
    "q269_feature_importance" ->
      s"""WITH fo AS (SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(month(o_orderdate) AS BIGINT) AS mth,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |fbn AS (SELECT min(cents) AS lo, max(cents) AS hi FROM fo),
        |fst AS (SELECT 'price' AS feature,
        |      (cents - lo) * 32 // (hi - lo + 1) AS bin, y FROM fo, fbn
        |  UNION ALL SELECT 'month', mth, y FROM fo
        |  UNION ALL SELECT 'cseg', o_custkey % 16, y FROM fo),
        |fp AS (SELECT feature, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos FROM fst GROUP BY 1, 2),
        |ftot AS (SELECT feature, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(pos) AS BIGINT) AS pp FROM fp GROUP BY 1),
        |fcum AS (SELECT feature, bin,
        |    CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin)
        |      AS BIGINT) AS n_left,
        |    CAST(sum(pos) OVER (PARTITION BY feature ORDER BY bin)
        |      AS BIGINT) AS pos_left
        |  FROM fp),
        |fsc0 AS (SELECT fcum.feature, bin, n_left, pos_left,
        |    nn - n_left AS n_right, pp - pos_left AS pos_right
        |  FROM fcum JOIN ftot ON fcum.feature = ftot.feature
        |  WHERE n_left < nn),
        |fsc AS (SELECT *, $StumpScoreDuck AS score_x6 FROM fsc0),
        |fbest AS (SELECT feature, bin AS best_bin, n_left, score_x6,
        |    row_number() OVER (PARTITION BY feature
        |      ORDER BY score_x6 DESC, bin) AS rn
        |  FROM fsc)
        |SELECT feature, best_bin, n_left,
        |  CAST(score_x6 AS BIGINT) AS score_x6,
        |  CAST(row_number() OVER (ORDER BY score_x6 DESC, feature)
        |    AS BIGINT) AS feat_rank
        |FROM fbest WHERE rn = 1""".stripMargin,

    // q268: fit on even keys, same argmin + cross-multiplied polarity,
    // classify odd keys, exact integer metrics
    "q268_stump_eval" ->
      s"""WITH so AS (SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |str AS (SELECT * FROM so WHERE o_orderkey % 2 = 0),
        |ste AS (SELECT * FROM so WHERE o_orderkey % 2 = 1),
        |sb AS (SELECT min(cents) AS lo, max(cents) AS hi FROM str),
        |sp AS (SELECT (cents - lo) * 32 // (hi - lo + 1) AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM str, sb GROUP BY 1),
        |stot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(pos) AS BIGINT) AS pp FROM sp),
        |scum AS (SELECT bin,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS n_left,
        |    CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS pos_left
        |  FROM sp),
        |ssc0 AS (SELECT bin, n_left, pos_left,
        |    nn - n_left AS n_right, pp - pos_left AS pos_right
        |  FROM scum, stot WHERE n_left < nn),
        |ssc AS (SELECT *, $StumpScoreDuck AS score_x6 FROM ssc0),
        |sbest AS (SELECT bin AS best_bin,
        |    CASE WHEN pos_left * n_right > pos_right * n_left
        |         THEN 1 ELSE 0 END AS left_pos
        |  FROM ssc ORDER BY score_x6 DESC, bin LIMIT 1),
        |spred AS (SELECT y,
        |    CASE WHEN (((greatest(lo, least(hi, cents)) - lo) * 32
        |                // (hi - lo + 1)) <= best_bin)
        |              = (left_pos = 1)
        |         THEN 1 ELSE 0 END AS pred
        |  FROM ste, sb, sbest),
        |scm AS (SELECT
        |    CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM spred)
        |SELECT tp, fp, fn, tn,
        |  tp * 10000 // (tp + fp) AS precision_x10k,
        |  tp * 10000 // (tp + fn) AS recall_x10k,
        |  2 * tp * 10000 // (2 * tp + fp + fn) AS f1_x10k
        |FROM scm""".stripMargin,

    // q270: same bin census, cumulative-from-the-right confusions, the
    // same single-floordiv metrics
    "q270_pr_curve" ->
      """WITH pu AS (SELECT
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |pb AS (SELECT min(cents) AS lo, max(cents) AS hi FROM pu),
        |pp AS (SELECT (cents - lo) * 32 // (hi - lo + 1) AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        |  FROM pu, pb GROUP BY 1),
        |pt AS (SELECT CAST(sum(pos) AS BIGINT) AS ppos FROM pp),
        |pc AS (SELECT bin,
        |    CAST(sum(pos) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY bin DESC) AS BIGINT) AS pred_pos
        |  FROM pp),
        |pm AS (SELECT bin AS threshold_bin, tp,
        |    pred_pos - tp AS fp, ppos - tp AS fn
        |  FROM pc, pt)
        |SELECT threshold_bin, tp, fp, fn,
        |  tp * 10000 // (tp + fp) AS precision_x10k,
        |  tp * 10000 // (tp + fn) AS recall_x10k,
        |  2 * tp * 10000 // (2 * tp + fp + fn) AS f1_x10k
        |FROM pm""".stripMargin,

    // q271: same confusion census, same integer po/pe masses, the
    // signed staged fixed point
    "q271_rater_kappa" ->
      s"""WITH ku AS (SELECT
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |kb AS (SELECT min(cents) AS lo, max(cents) AS hi FROM ku),
        |kp AS (SELECT y,
        |    CASE WHEN (cents - lo) * 32 // (hi - lo + 1) >= 16
        |         THEN 1 ELSE 0 END AS pred
        |  FROM ku, kb),
        |kc AS (SELECT
        |    CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM kp)
        |SELECT tp, fp, fn, tn,
        |  (tp + tn) * 10000 // (tp + fp + fn + tn) AS accuracy_x10k,
        |  CAST(${fxSignedSql(
             "(tp + fp + fn + tn) * (tp + tn)" +
               " - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))",
             "greatest((tp + fp + fn + tn) * (tp + fp + fn + tn)" +
               " - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)), 1)",
             "//")} AS BIGINT) AS kappa_x6
        |FROM kc""".stripMargin,

    // q272: same one-pass paired confusion, same nonnegative staged
    // fixed point with the den floored at 1
    "q272_mcnemar_compare" ->
      s"""WITH mu AS (SELECT
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(month(o_orderdate) AS BIGINT) AS mth,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |mb AS (SELECT min(cents) AS lo, max(cents) AS hi FROM mu),
        |mk AS (SELECT
        |    CASE WHEN (CASE WHEN (cents - lo) * 32 // (hi - lo + 1) >= 16
        |                    THEN 1 ELSE 0 END) = y
        |         THEN 1 ELSE 0 END AS ok_a,
        |    CASE WHEN (CASE WHEN mth <= 6 THEN 1 ELSE 0 END) = y
        |         THEN 1 ELSE 0 END AS ok_b
        |  FROM mu, mb),
        |mc AS (SELECT
        |    CAST(sum(CASE WHEN ok_a = 1 AND ok_b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_right,
        |    CAST(sum(CASE WHEN ok_a = 1 AND ok_b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN ok_a = 0 AND ok_b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN ok_a = 0 AND ok_b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_wrong
        |  FROM mk)
        |SELECT both_right, b, c, both_wrong,
        |  (both_right + b) * 10000
        |    // (both_right + b + c + both_wrong) AS acc_a_x10k,
        |  (both_right + c) * 10000
        |    // (both_right + b + c + both_wrong) AS acc_b_x10k,
        |  CAST(${fxSql("(b - c) * (b - c)", "greatest(b + c, 1)", "//")}
        |    AS BIGINT) AS mcnemar_x6
        |FROM mc""".stripMargin,

    // q273: same calendar-bounded pair grid, same signed fixed-point
    // pair slopes, same lower-median order statistic
    "q273_theilsen_trend" ->
      s"""WITH ty AS (SELECT n_name,
        |    CAST(year(o_orderdate) - 1992 AS BIGINT) AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS yv
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tp AS (SELECT l.n_name AS n_name,
        |    CAST(${fxSignedSql("r.yv - l.yv", "r.x - l.x", "//")}
        |      AS BIGINT) AS slope_x6
        |  FROM ty l JOIN ty r ON l.n_name = r.n_name AND l.x < r.x),
        |tr AS (SELECT n_name, slope_x6,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY slope_x6) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT)
        |      AS n_pairs
        |  FROM tp)
        |SELECT n_name, n_pairs, slope_x6 AS ts_slope_x6
        |FROM tr WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // q274: same two keyed aggregates, same dominant-share floordiv
    "q274_l_diversity" ->
      """WITH lq AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kilo,
        |    c_mktsegment AS mktsegment
        |  FROM customer),
        |ls AS (SELECT nationkey, bal_kilo, mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lq GROUP BY 1, 2, 3),
        |lg AS (SELECT nationkey, bal_kilo,
        |    CAST(sum(n_rows) AS BIGINT) AS group_size,
        |    CAST(count(*) AS BIGINT) AS n_sensitive,
        |    CAST(max(n_rows) AS BIGINT) AS top_count
        |  FROM ls GROUP BY 1, 2)
        |SELECT nationkey, bal_kilo, group_size, n_sensitive,
        |  top_count * 10000 // group_size AS top_share_x10k,
        |  CAST(CASE WHEN n_sensitive >= 3 THEN 1 ELSE 0 END AS BIGINT)
        |    AS ok
        |FROM lg""".stripMargin,

    // q275: the one-shot full recompute — maintained base+delta must
    // equal it exactly (count/sum are monoids)
    "q275_agg_maintenance" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders GROUP BY 1, 2""".stripMargin,

    // q120: replay the exact ε-window around each target rank; the
    // sketch's bound promise is the TRUE literal the hash compares.
    // The ε literal is QDigestAgg(24, 4096).declaredEps — a dyadic
    // double (96/4096), so the interpolated decimal round-trips
    // bit-exactly into both engines' ceil(ε·n). Window edges mirror
    // the Spark side: lower tr−w, upper tr+w+1 (one-sided guarantee).
    "q120_quantile_sketch" -> {
      val eps = graft.functions.QDigestAgg(24, 4096, Nil).declaredEps
      s"""WITH t AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
         |           FROM lineitem),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rnk FROM t),
         |n AS (SELECT count(*) AS c FROM t),
         |ps AS (SELECT unnest([(0.25)::DOUBLE, (0.5)::DOUBLE,
         |                      (0.75)::DOUBLE, (0.99)::DOUBLE]) AS p),
         |tg AS (SELECT p, c,
         |    greatest(1, CAST(ceil(p * c) AS BIGINT)) AS target_rank,
         |    CAST(ceil(($eps)::DOUBLE * c) AS BIGINT) AS w
         |  FROM ps CROSS JOIN n)
         |SELECT tg.p, tg.c AS n_rows, tg.target_rank,
         |  lo.v AS v_lo, hi.v AS v_hi, TRUE AS within
         |FROM tg
         |JOIN r lo ON lo.rnk = greatest(1, tg.target_rank - tg.w)
         |JOIN r hi ON hi.rnk = least(tg.c, tg.target_rank + tg.w + 1)""".stripMargin
    },

    // q121: the Bloom pre-filter is transparent to the result — the
    // oracle is the PLAIN selective join.
    "q121_bloom_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000 GROUP BY 1""".stripMargin,

    "q129_cdc_snapshot" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, -1 AS seq, 'I' AS op
        |  FROM orders WHERE o_orderkey >= 0
        |), chg AS (
        |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) + 10, 2) AS DOUBLE)
        |      AS o_totalprice,
        |    o_orderdate, o_orderpriority, 1 AS seq, 'U' AS op
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U2',
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) + 20, 2) AS DOUBLE),
        |    o_orderdate, o_orderpriority, 2, 'U'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 21 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 3, 'D'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority, 1, 'I'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 13 = 0
        |), latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                               ORDER BY seq DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg)
        |)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // q180: the q129 snapshot CTEs + a full-outer diff with null-safe
    // IS [NOT] DISTINCT FROM (Spark's <=>)
    "q180_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, -1 AS seq, 'I' AS op
        |  FROM orders WHERE o_orderkey >= 0
        |), chg AS (
        |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) + 10, 2) AS DOUBLE)
        |      AS o_totalprice,
        |    o_orderdate, o_orderpriority, 1 AS seq, 'U' AS op
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'U2',
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) + 20, 2) AS DOUBLE),
        |    o_orderdate, o_orderpriority, 2, 'U'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 21 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 3, 'D'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority, 1, 'I'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 13 = 0
        |), latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                               ORDER BY seq DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg)
        |), snap AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM latest WHERE rn = 1 AND op <> 'D'
        |), b AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey >= 0
        |), j AS (
        |  SELECT b.o_orderkey IS NOT NULL AS inb,
        |    s.o_orderkey IS NOT NULL AS ina,
        |    b.o_orderstatus AS st_b, s.o_orderstatus AS st_a,
        |    b.o_totalprice AS tp_b, s.o_totalprice AS tp_a
        |  FROM b FULL OUTER JOIN snap s ON b.o_orderkey = s.o_orderkey)
        |SELECT
        |  CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_before,
        |  CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after,
        |  CAST(sum(CASE WHEN NOT inb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN NOT ina THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN inb AND ina AND (st_b IS DISTINCT FROM st_a
        |    OR tp_b IS DISTINCT FROM tp_a) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(CASE WHEN inb AND ina AND st_b IS NOT DISTINCT FROM
        |    st_a AND tp_b IS NOT DISTINCT FROM tp_a THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_same,
        |  CAST(sum(CASE WHEN inb AND ina AND st_b IS DISTINCT FROM st_a
        |    THEN 1 ELSE 0 END) AS BIGINT) AS chg_o_orderstatus,
        |  CAST(sum(CASE WHEN inb AND ina AND tp_b IS DISTINCT FROM tp_a
        |    THEN 1 ELSE 0 END) AS BIGINT) AS chg_o_totalprice
        |FROM j""".stripMargin,

    "q131_cdc_history" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, -1 AS seq, 'I' AS op
        |  FROM orders WHERE o_orderkey >= 0
        |), chg AS (
        |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) + 10, 2) AS DOUBLE)
        |      AS o_totalprice,
        |    o_orderdate, o_orderpriority, 1 AS seq, 'U' AS op
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 3, 'D'
        |  FROM orders WHERE o_orderkey >= 0 AND o_orderkey % 11 = 0
        |), stamped AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY o_orderkey
        |                            ORDER BY seq) AS valid_to
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg)
        |)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority,
        |       CAST(seq AS BIGINT) AS valid_from,
        |       CAST(valid_to AS BIGINT) AS valid_to
        |FROM stamped WHERE op <> 'D'""".stripMargin,

    "q130_column_profile" ->
      """WITH long AS (
        |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v
        |  FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        |), stats AS (
        |  SELECT col_name, 'n' AS stat, CAST(count(v) AS DOUBLE) AS val
        |  FROM long GROUP BY 1
        |  UNION ALL
        |  SELECT col_name, 'nulls',
        |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |  FROM long GROUP BY 1
        |  UNION ALL
        |  SELECT col_name, 'ndv', CAST(count(DISTINCT v) AS DOUBLE)
        |  FROM long GROUP BY 1
        |  UNION ALL SELECT col_name, 'min', min(v) FROM long GROUP BY 1
        |  UNION ALL SELECT col_name, 'max', max(v) FROM long GROUP BY 1
        |), mm AS (
        |  SELECT col_name, min(v) AS mn, max(v) AS mx FROM long GROUP BY 1
        |), hist AS (
        |  SELECT l.col_name,
        |    'b' || CAST(CASE WHEN m.mx = m.mn THEN 0
        |      ELSE LEAST(7, CAST(FLOOR((l.v - m.mn) * 8.0 / (m.mx - m.mn))
        |                         AS BIGINT)) END AS VARCHAR) AS stat,
        |    CAST(count(*) AS DOUBLE) AS val
        |  FROM long l JOIN mm m USING (col_name)
        |  WHERE l.v IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT * FROM stats UNION ALL SELECT * FROM hist""".stripMargin,

    "q208_k_anonymity" ->
      """WITH g0 AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |    c_mktsegment AS mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kilo,
        |    CAST(count(*) AS BIGINT) AS group_size
        |  FROM customer GROUP BY 1, 2, 3),
        |v AS (SELECT nationkey, mktsegment,
        |    CAST(sum(group_size) AS BIGINT) AS pooled_size
        |  FROM g0 WHERE group_size < 5 GROUP BY 1, 2)
        |SELECT g0.nationkey, g0.mktsegment, g0.bal_kilo, g0.group_size,
        |  CAST(CASE WHEN g0.group_size >= 5 THEN 0 ELSE 1 END AS BIGINT)
        |    AS level,
        |  CAST(CASE WHEN g0.group_size >= 5 THEN g0.group_size
        |    ELSE v.pooled_size END AS BIGINT) AS eff_size,
        |  CAST(CASE WHEN (CASE WHEN g0.group_size >= 5 THEN g0.group_size
        |      ELSE v.pooled_size END) >= 5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS ok
        |FROM g0 LEFT JOIN v ON g0.nationkey = v.nationkey
        |  AND g0.mktsegment = v.mktsegment""".stripMargin,

    "q67_hash_sample" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey >= 0
        |  AND ${lcgHashSql("l_orderkey")} < 214748365
        |GROUP BY l_returnflag""".stripMargin,

    "q62_window_ranks" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS ntile4,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    "q57_grouping_sets_sql" ->
      """SELECT n_name, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
        |                        (o_orderpriority), ())""".stripMargin
  )
}
