package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational building blocks shared by the query surface.
  *
  * These mirror the reference's recurring patterns (SURVEY.md §2):
  * deterministic top-k (O2), year densification + cumulative profiles
  * (`ProfileConversion.scala:100-141`), and left-join-with-zero-fill
  * (J8/P12, `ProfileConversion.scala:155` + `na.fill`).
  */
object Relational {

  /** Deterministic per-group top-k: `row_number` over (orderCols, then
    * tieBreak) — never a bare `orderBy.limit`, whose row set is
    * nondeterministic under ties and does not distribute (a global limit
    * funnels through one partition; per-group row_number stays parallel).
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rnName: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rnName, row_number().over(w).cast("long"))
      .filter(col(rnName) <= k)
  }

  /** Dense (entity × period) grid from the fact table itself, missing
    * cells zero-filled, plus a running cumulative — the reference's
    * profile densification (`ProfileConversion.scala:100-141`): distinct
    * periods are tiny, so the grid is a broadcast cross join, never a
    * shuffle of the big side.
    *
    * Output: entity, period, `n` (count in period), `cum` (running sum).
    */
  def densifyCumulative(facts: DataFrame, entity: Column, period: Column,
                        entityName: String, periodName: String): DataFrame = {
    val entities = facts.select(entity.as(entityName)).distinct()
    val periods  = facts.select(period.as(periodName)).distinct()
    val counts = facts
      .groupBy(entity.as(entityName), period.as(periodName))
      .agg(count(lit(1)).as("n"))
    val grid = entities.crossJoin(broadcast(periods))
    val w = Window.partitionBy(col(entityName)).orderBy(col(periodName))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(counts, Seq(entityName, periodName), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("cum", sum(col("n")).over(w))
  }

  /** Cumulative aggregate over an ordered dimension within each entity —
    * the reference's W1 window (`ProfileConversion.scala:114-115`). */
  def cumulativeOver(df: DataFrame, entity: Column, order: Column,
                     value: Column, as: String): DataFrame = {
    val w = Window.partitionBy(entity).orderBy(order)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, sum(value).over(w))
  }

  /** GLOBAL running sum of an int64 value over a total order, at scale.
    * A bare `Window.orderBy` with no partition funnels EVERY row through
    * one reducer — the global-cumsum scale-killer. Two-phase form
    * instead: range-partition on the order key, run the window within
    * each partition, and add broadcast exclusive per-partition offsets.
    * Driver traffic is O(#partitions) partial sums (bounded like a loop
    * guard — never O(rows)); every heavy step stays parallel.
    *
    * `orderCols` must be a TOTAL order (append a unique id); the result
    * is then independent of where the sampled range boundaries land.
    * The ranged input is checkpointed first: RangePartitioner samples
    * boundaries per action, so the totals pass and the window pass must
    * see the SAME physical partitioning, not two samples of it: the
    * checkpoint is correctness-load-bearing, not a plan-size
    * optimization. NOTE: the totals pass runs a Spark job at
    * DataFrame-CONSTRUCTION time (eager action, O(#partitions) rows to
    * the driver) — building this plan executes the upstream subtree.
    * Int64 values only — a float running sum is order-brittle in any
    * engine.
    *
    * `numParts <= 0` (the default) derives the range-partition count
    * from the session's `spark.sql.shuffle.partitions`: a fixed
    * constant would cap the ranking stage at that many tasks for every
    * caller — at 100 TB, 32 partitions is ~3 TB sorted per task — while
    * the shuffle-partition setting is exactly the knob the cluster
    * already sizes for its data volume. RelationalSpec asserts the
    * result is partition-count-invariant (1/7/32/256). */
  def globalCumsum(df: DataFrame, orderCols: Seq[Column], value: Column,
                   as: String, numParts: Int = 0): DataFrame = {
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = graft.Checkpoints.checkpoint(
      df.repartitionByRange(parts, orderCols: _*)
        .withColumn("_pid", spark_partition_id()))
    val totals = ranged.groupBy(col("_pid"))
      .agg(coalesce(sum(value.cast("long")), lit(0L)).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _)).toMap // exclusive prefix
    val w = Window.partitionBy(col("_pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn(as,
        sum(value.cast("long")).over(w) +
          coalesce(element_at(typedLit(offsets), col("_pid")), lit(0L)))
      .drop("_pid")
  }

  /** EXACT integer square root (floor √x) of a nonnegative int64: one
    * IEEE sqrt plus a ±1 integer correction. A correctly-rounded
    * double sqrt is within one of the true integer floor for any
    * int64, and the correction is pure int64 compare/adjust, so the
    * result is exact and engine-independent — the temperature-
    * flattening weight (q155) replays the identical CASE in DuckDB
    * where a bare floor(sqrt(x)) could flip at perfect-square
    * boundaries. */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    when(s0 * s0 > x, s0 - 1L)
      .when((s0 + 1L) * (s0 + 1L) <= x, s0 + 1L)
      .otherwise(s0)
  }

  /** Z-order (Morton) key over two nonnegative 16-bit dimensions: bit
    * i of `x` lands at position 2i, bit i of `y` at 2i+1, so nearby
    * (x, y) points share key prefixes — the lakehouse data-layout move
    * for MULTI-dimensional scan pruning: sort/partition by the z-key
    * and a range of keys bounds a rectangle in BOTH dimensions at
    * once, where sorting by (x, y) prunes only x. Pure composed bit
    * arithmetic (no UDF, whole-stage codegen keeps it in the scan
    * stage), replayed verbatim by the q116 oracle. */
  def zorderKey(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(x.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Per-key integer EWMA over each key's time-ordered events:
    * e_0 = x_0, e_k = (num·x_k + (den−num)·e_{k−1}) floordiv den — the
    * exponentially-weighted moving average with α = num/den kept in
    * exact int64, so the order-dependent recursion is oracle-checkable
    * (DuckDB replays it as `list_reduce` over the same ordered list;
    * float EWMA would drift per-engine). The BATCH form of per-entity
    * custom state (the streaming sibling is flatMapGroupsWithState):
    * `groupByKey.mapGroups` holds ONE key's events in memory — the
    * standard per-entity sessionization bound, partitioned by key like
    * every stateful op here. Ordering inside a group is (orderUs, id)
    * — a total order, so the fold is deterministic. Returns
    * (key, n_events, ewma). */
  def ewmaInt(df: DataFrame, key: Column, orderUs: Column, id: Column,
              value: Column, num: Long, den: Long): DataFrame = {
    require(num > 0 && den > num, "need 0 < num/den < 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("long"), orderUs.cast("long"), id.cast("long"),
        value.cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3))
        var e = rows.head._4
        var i = 1
        while (i < rows.length) {
          e = Math.floorDiv(num * rows(i)._4 + (den - num) * e, den)
          i += 1
        }
        (k, rows.length.toLong, e)
      }
      .toDF("key", "n_events", "ewma")
  }

  /** EXACT distributed quantiles without a global single-partition
    * sort — the scale-correct form of "value at percentile p": rows
    * get a GLOBAL value rank from [[globalCumsum]] (range partition +
    * per-partition window + broadcast offsets), and quantile p is the
    * value at rank ceil(p·n). Ties need no tiebreak: every row at a
    * given global rank carries the same value, so the result is
    * deterministic however ties land. Target ranks are priced by one
    * bounded driver count (the q110-source convention); Scala's IEEE
    * `ceil(p·n)` matches the oracle's DOUBLE arithmetic bit-for-bit.
    * Returns (p, v) — one row per requested probability (nearest-rank
    * definition, not interpolated; q45 covers the interpolated form). */
  def exactQuantiles(df: DataFrame, value: Column,
                     probs: Seq[Double]): DataFrame = {
    // three consumers (the count, the rank's range sampler, the rank
    // itself) — checkpoint the single-column projection once
    val vals = graft.Checkpoints.checkpoint(df.select(value.as("v")))
    val n = vals.count()
    val ranked = globalCumsum(vals, Seq(col("v")), lit(1L), "rnk")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = probs.map(p => (p, math.max(1L, math.ceil(p * n).toLong)))
      .toDF("p", "tr")
    ranked.join(broadcast(targets), col("rnk") === col("tr"))
      .select(col("p"), col("v"))
  }

  /** Pareto SKYLINE (maximal frontier) over integer dimensions: rows
    * not STRICTLY dominated by any other row (dominator ≥ on every dim
    * and > on at least one; rows with identical dim vectors dominate
    * nothing and all survive together, so the result is a set — no
    * tiebreak needed). Börzsönyi et al., "The Skyline Operator"
    * (ICDE'01 — public algorithm).
    *
    * Scale shape (the reason this is not the O(n²) NOT-EXISTS
    * self-join the oracle runs):
    *  1. PRE-PRUNE: one aggregate computes, per dimension, the
    *     lexicographic max row led by that dimension (each is itself a
    *     skyline member); the broadcast of those `dims.size` vectors
    *     drops every row they strictly dominate BEFORE any imperative
    *     work — on correlated data this removes almost everything, in
    *     one codegen'd scan with no shuffle of the input.
    *  2. LOCAL skylines per partition (`mapPartitions`, the genuinely
    *     imperative tier): a streaming two-direction dominance list —
    *     each row is checked against the kept list and evicts kept
    *     rows it dominates, so memory is O(local frontier), never the
    *     partition (no sort, no buffering of the input).
    *  3. MERGE: the union of local skylines (global ⊆ that union)
    *     through the same pass on one partition. Final-pass input is
    *     Σ per-partition frontiers — frontier-sized, not data-sized;
    *     at 100 TB the frontier either fits (normal: frontiers are
    *     tiny on correlated dims) or the OUTPUT itself doesn't, which
    *     no algorithm survives.
    * Dims must be non-null BIGINT (the engine's exact-arithmetic
    * discipline); all other columns pass through untouched. */
  def skyline(df: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "skyline needs at least one dimension")
    val schema = df.schema
    dims.foreach { d =>
      require(schema(d).dataType ==
        org.apache.spark.sql.types.LongType,
        s"skyline dim $d must be BIGINT (exact dominance), " +
          s"got ${schema(d).dataType}")
    }
    // 1. broadcast prune vectors: max(struct(dim_i, rest…)) is the
    // lexicographic max row led by dim_i — a guaranteed skyline member.
    // Registered broadcast-scalar crossJoin (the q42 shape).
    val pruneAggs = dims.zipWithIndex.map { case (d, i) =>
      max(struct(col(d) +: dims.filterNot(_ == d).map(col): _*)).as(s"_p$i")
    }
    val pruneRow = df.agg(pruneAggs.head, pruneAggs.tail: _*)
    val dominatedByPrune = dims.indices.map { i =>
      val p = col(s"_p$i")
      dims.map(d => col(d) <= p.getField(d)).reduce(_ && _) &&
        dims.map(d => col(d) < p.getField(d)).reduce(_ || _)
    }.reduce(_ || _)
    val pruned = df.crossJoin(broadcast(pruneRow))
      .filter(!dominatedByPrune)
      .select(schema.fieldNames.map(col): _*)
    // 2./3. the imperative frontier pass, partition-local then merged.
    val idx = dims.map(schema.fieldIndex).toArray
    def frontier(it: Iterator[org.apache.spark.sql.Row])
        : Iterator[org.apache.spark.sql.Row] = {
      val kept = scala.collection.mutable.ArrayBuffer
        .empty[(Array[Long], org.apache.spark.sql.Row)]
      def dominates(a: Array[Long], b: Array[Long]): Boolean = {
        var ge = true; var gt = false; var i = 0
        while (i < a.length && ge) {
          if (a(i) < b(i)) ge = false else if (a(i) > b(i)) gt = true
          i += 1
        }
        ge && gt
      }
      it.foreach { r =>
        val v = idx.map(r.getLong)
        if (!kept.exists { case (k, _) => dominates(k, v) }) {
          val surv = kept.filterNot { case (k, _) => dominates(v, k) }
          kept.clear(); kept ++= surv; kept += ((v, r))
        }
      }
      kept.iterator.map(_._2)
    }
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val local = pruned.mapPartitions(frontier)(enc)
    local.repartition(1).mapPartitions(frontier)(enc)
  }

  /** Referential-integrity census over a set of declared foreign-key
    * edges — the data-quality gate a pipeline runs before training
    * ingestion or a snapshot swap (the q180 diff's schema-level
    * sibling): per FK edge one row with child cardinality, null keys,
    * ORPHANS (non-null keys with no parent), distinct referenced
    * keys, parent cardinality, and UNREFERENCED parents.
    *
    * Dataflow per edge: one left join child→parent carrying all four
    * child-side counts in a single wide aggregate (count / null-sum /
    * orphan-sum / distinct), one left anti-style join parent→distinct
    * refs for the unreferenced count, and a 1-row × 1-row combine
    * (the q135 broadcast-scalar shape). Small dimension parents
    * broadcast automatically; the big-fact edges shuffle on the key —
    * exactly the join the orphan check needs at any scale. NULL keys
    * are counted, never silently dropped (they are excluded from the
    * orphan and distinct counts by SQL semantics, which both engines
    * share). */
  def fkCensus(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    edges.map { case (name, child, ck, parent, pk) =>
      // Child side PRE-AGGREGATED by key before the parent join (guide
      // §2.3 aggregate-before-shuffle): the orphan-check join and both
      // exchanges then carry |distinct keys| rows instead of |child|
      // rows (the map-side combine absorbs the fact-table volume), and
      // ONE keyed aggregate feeds both the child-side census and the
      // unreferenced-parent probe. Counts are carried as `cnt` weights,
      // so every output integer is unchanged (n_child = Σcnt ≡ the old
      // per-row count; countDistinct over the already-keyed rows ≡ the
      // old countDistinct; coalesce only normalizes the empty-child
      // SUM-over-zero-rows to the 0 the old COUNT shape produced).
      val ckeys = child.select(col(ck).as("fk"))
        .groupBy(col("fk")).agg(count(lit(1)).as("cnt"))
      val p = parent.select(col(pk).as("pkk"))
      val childSide = ckeys.join(p, col("fk") === col("pkk"), "left")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_child"),
          sum(when(col("fk").isNull, col("cnt")).otherwise(0L))
            .as("n_null_fk"),
          sum(when(col("fk").isNotNull && col("pkk").isNull, col("cnt"))
            .otherwise(0L)).as("n_orphans"),
          countDistinct(col("fk")).as("n_distinct_fk"))
      val refs = ckeys.filter(col("fk").isNotNull).select(col("fk"))
      val parentSide = p.join(refs, col("pkk") === col("fk"), "left")
        .agg(count(lit(1)).as("n_parents"),
          sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_unreferenced"))
      childSide.crossJoin(parentSide)
        .select(lit(name).as("fk_name"), col("n_child"), col("n_null_fk"),
          col("n_orphans"), col("n_distinct_fk"), col("n_parents"),
          col("n_unreferenced"))
    }.reduce(_ unionByName _)
}
