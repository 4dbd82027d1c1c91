package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, Similarity}
import graft.queries.{CoreQueries, EventQueries, TextQueries}
import graft.sources.Tables
import graft.streaming.EventStreams

/** End-to-end streaming parity under the correctness gate. The paper's
  * workload arrives as periodic snapshot dumps (the reference's
  * `SetUpEnv.scala:33` cadence); every CHANNEL of this harness replays
  * that cadence for one streaming operator in three steps:
  *
  *  1. [[Ctx.stage]] splits a fixture frame into row-ordered parquet
  *     FILE DROPS — optionally reshaping each slice, optionally closing
  *     with a far-future sentinel drop that advances the watermark past
  *     all real data, so append mode finalizes every real window (the
  *     sentinel's own rows are excluded from comparison on both sides);
  *  2. [[Ctx.drain]] consumes the drops through the real file source,
  *     one drop per micro-batch, into a `foreachBatch` sink, and stops
  *     the query once every drop is processed;
  *  3. the channel compares the final sink state against its batch twin
  *     — an oracle-checked query (q31, q32, q64, q85, q90, q115, q192,
  *     q195, q205, q232) or the same operator run in batch — mostly as
  *     the symmetric set difference [[diff]].
  *
  * [[channels]] lists the 14 channels in report order. Each runs in its
  * own `workDir/<verdict>` directory, and the harness then releases
  * every unpinned checkpoint block the channel left (the Bench/Verify
  * discipline of [[Checkpoints]]). Drops are staged in key or
  * event-time order, so nothing is late beyond the watermark and stream
  * state eviction — which only evicts rows no future arrival can
  * legally join — cannot drop a valid result.
  *
  * `runMain graft.StreamRun [sfDir] [workDir]` prints one line,
  * `STREAM_PARITY <verdict>=OK|FAIL(n) ... <rows>=n ... sf=<sfDir>`,
  * and exits nonzero on any FAIL. StreamEndToEndSpec runs every channel
  * at sf0.001 inside `sbt test`.
  */
object StreamRun {

  private val Sentinel = "__sentinel"

  /** Drops per channel (before the optional sentinel drop). */
  private val NumDrops = 4

  /** One channel's run: the session, the fixture dir and the channel's
    * private work dir (drops, stream checkpoint, sink, state). */
  final case class Ctx(spark: SparkSession, sfDir: String, dir: String) {

    /** Stage `df` as [[NumDrops]] file drops, split in `order` row
      * order, each slice passed through `slice`, plus an optional final
      * `sentinel` drop. Returns the drop directory. The numbered frame
      * is checkpointed, so the one-partition global window runs once,
      * not once per drop; the channel harness releases the block. */
    def stage(df: DataFrame, order: Seq[Column],
              slice: DataFrame => DataFrame = identity,
              sentinel: Option[DataFrame] = None): String = {
      val drops = Paths.get(dir, "drops")
      Files.createDirectories(drops)
      val withIdx = Checkpoints.checkpoint(
        df.withColumn("_rn", row_number().over(Window.orderBy(order: _*))))
      val n = withIdx.count()
      (0 until NumDrops).foreach { i =>
        val lo = i * n / NumDrops + 1
        val hi = (i + 1) * n / NumDrops
        stageDropFile(slice(withIdx.filter(col("_rn").between(lo, hi)).drop("_rn")),
          drops, f"drop_$i%02d")
      }
      sentinel.foreach(stageDropFile(_, drops, f"drop_$NumDrops%02d_sentinel"))
      drops.toString
    }

    /** The `events` columns every event channel streams. */
    def events: DataFrame = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))

    /** [[events]] staged in (ts, event_id) order, closed by a sentinel
      * drop 2 days past the last event. */
    def stageEvents(slice: DataFrame => DataFrame = identity): String = {
      import spark.implicits._
      val ev = events
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 2L * 24 * 3600 * 1000)
      val sentinel = Seq((-1L, sentinelTs, -1L, Sentinel, 0.0, "{}")).toDF(ev.columns: _*)
      stage(ev, Seq(col("ts"), col("event_id")), slice = slice, sentinel = Some(sentinel))
    }

    /** The file-drop source: one drop per micro-batch, read with the
      * schema the drops were written with. */
    def source(drops: String): DataFrame =
      spark.readStream.schema(spark.read.parquet(drops).schema)
        .option("maxFilesPerTrigger", "1").parquet(drops)

    /** The staged [[events]] as a stream. */
    def eventSource(slice: DataFrame => DataFrame = identity): DataFrame =
      source(stageEvents(slice))

    /** [[eventSource]] typed for the keyed-state operators. */
    def typedEvents: Dataset[EventStreams.Event] = {
      import spark.implicits._
      eventSource().as[EventStreams.Event]
    }

    /** Run `stream` in output `mode` through `batch` until every
      * available drop is processed, checkpointing under `dir/ckpt` (a
      * second drain of the same channel resumes from it). The query is
      * stopped even when a batch throws. */
    def drain(stream: DataFrame, mode: String = "append")(
        batch: (DataFrame, Long) => Unit): Unit = {
      val q = stream.writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(mode)
        .foreachBatch(batch)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    /** [[drain]] appending `each(batch, batchId)` to the parquet sink
      * `dir/sink`; returns the sink. A derived batch output is released
      * right after its append when it is a bare checkpoint (operator
      * verdicts; a session-wide releaseAll must not run inside a live
      * stream). */
    def sink(stream: DataFrame, mode: String = "append",
             each: (DataFrame, Long) => DataFrame = (df, _) => df): DataFrame = {
      val out = s"$dir/sink"
      drain(stream, mode) { (df, bid) =>
        val rows = each(df, bid)
        rows.write.mode("append").parquet(out)
        if (rows ne df) Checkpoints.release(rows)
      }
      spark.read.parquet(out)
    }
  }

  /** Move the single part-file of a one-partition write into
    * `destDir/name.parquet` (file drops must be plain sibling files so
    * the streaming file source lists them; sequential staging gives
    * increasing modification times = processing order). */
  private def stageDropFile(df: DataFrame, destDir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_drop").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      finally listing.close() // Files.list holds an open DirectoryStream
    Files.move(part, destDir.resolve(s"$name.parquet"))
    // the staging dir still holds _SUCCESS + .crc siblings after the
    // move — delete the tree, or every drop leaks a dir in java.io.tmpdir
    val w = Files.walk(Paths.get(tmp))
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }

  /** Rows in exactly one of `a` and `b` (set-wise, both directions). */
  private def diff(a: DataFrame, b: DataFrame): Long =
    a.except(b).count() + b.except(a).count()

  /** (mismatches, rows) of a streamed result against its batch twin. */
  private def parity(streamed: DataFrame, batch: DataFrame): (Long, Long) = {
    val rows = batch.count()
    (diff(streamed, batch), rows)
  }

  /** Tumbling-window parity of a sink against the batch operator: every
    * real window emitted once with identical counts; double sums within
    * 1e-6 (stream/batch partial-agg order). The mismatch predicate is
    * null-safe — `abs(NULL - x) > eps` is NULL and would silently drop
    * the row, so one-sided nulls get their own disjuncts. */
  private def windowParity(c: Ctx, sink: DataFrame): (Long, Long) = {
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col("win_start"), col("event_type"),
        col("n_events").as(s"${p}_n"), col("sum_value").as(s"${p}_sum"))
    val batch = side(EventStreams.tumblingCounts(Tables.events(c.spark, c.sfDir)), "b")
    val rows = batch.count()
    val bad = batch
      .join(side(sink.filter(col("event_type") =!= Sentinel), "s"),
        Seq("win_start", "event_type"), "full_outer")
      .filter(col("b_n").isNull || col("s_n").isNull ||
        col("b_n") =!= col("s_n") ||
        (col("b_sum").isNull =!= col("s_sum").isNull) ||
        abs(col("b_sum") - col("s_sum")) > 1e-6)
      .count()
    (bad, rows)
  }

  /** Drain an Update-mode keyed stream, tagging each emission with its
    * batch id, and keep every real user's LAST emission — one emission
    * per (user, batch), so the max-batch row is the final state. */
  private def lastEmission(c: Ctx, stream: DataFrame): DataFrame = {
    val sink = c.sink(stream, "update", (df, bid) => df.withColumn("_b", lit(bid)))
      .filter(col("user_id") =!= -1L)
    sink.join(sink.groupBy(col("user_id")).agg(max(col("_b")).as("_b")),
      Seq("user_id", "_b"))
  }

  /** [[EventStreams.tumblingCounts]] (batch twin q31, hash-checked vs
    * DuckDB): append-mode watermarked aggregation. */
  private def tumbling(c: Ctx): (Long, Long) =
    windowParity(c, c.sink(EventStreams.tumblingCounts(c.eventSource())))

  /** [[EventStreams.incrementalCoEdges]] (batch twin q64): the
    * stream-stream interval self-join maintaining co-occurrence edges
    * online — the accumulated pair stream, re-aggregated at q64's
    * grain, must equal the batch join exactly. */
  private def coedges(c: Ctx): (Long, Long) = {
    def authorship(df: DataFrame): DataFrame =
      df.select(col("user_id").as("group"), col("event_type").as("member"),
        col("ts"))
    def aggPairs(df: DataFrame): DataFrame = df
      .groupBy(col("group"), col("a"), col("b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(unix_micros(col("pair_ts"))).as("last_pair_us"))
    parity(
      aggPairs(c.sink(EventStreams.incrementalCoEdges(authorship(c.eventSource()), "1 hour"))),
      aggPairs(EventStreams.incrementalCoEdges(
        authorship(Tables.events(c.spark, c.sfDir)), "1 hour")))
  }

  /** INCREMENTAL near-dup ADMISSION — the q192 production path: the
    * increment corpus arrives as id-ordered drops, each micro-batch is
    * signed and banded against the PERSISTED minhash band index (built
    * once from the corpus — the serve side never rescans corpus text).
    * Admission is per-document against the static index, so the
    * accumulated verdicts must equal q192's one-shot batch verdicts
    * EXACTLY, however the increment was micro-batched. */
  private def admission(c: Ctx): (Long, Long) = {
    val idx = s"${c.dir}/minhash_index"
    Dedup.buildMinhashIndex(
      Tables.documents(c.spark, c.sfDir), "doc_id", "text", idx)
    val inc = TextQueries.incrementBatch(c.spark, c.sfDir)
    parity(
      c.sink(c.source(c.stage(inc, Seq(col("doc_id")))), each = (df, _) =>
        Dedup.incrementalNearDup(c.spark, idx, df, "doc_id", "text")),
      Dedup.incrementalNearDup(c.spark, idx, inc, "doc_id", "text"))
  }

  /** INCREMENTAL novelty — the ORDER-DEPENDENT counterpart of
    * [[admission]]: each id-ordered micro-batch is scored against the
    * persisted first-sighting index (plus its own batch-local arrivals)
    * and APPENDS its shingle minima to that index — evolving state the
    * one-shot q205 census cannot exercise. With id-ordered drops the
    * accumulated sink must equal q205's census EXACTLY. */
  private def novelty(c: Ctx): (Long, Long) = {
    import c.spark.implicits._
    val docs = Tables.documents(c.spark, c.sfDir).select(col("doc_id"), col("text"))
    val state = s"${c.dir}/state"
    // seed an empty typed segment so every read of the state works
    Seq.empty[(Long, Long)].toDF("shk", "first_id")
      .write.mode("overwrite").parquet(state)
    parity(
      c.sink(c.source(c.stage(docs, Seq(col("doc_id")))), each = (df, _) =>
        Dedup.incrementalNovelty(c.spark, state, df, "doc_id", "text")),
      Dedup.noveltyCensus(docs, "doc_id", "text"))
  }

  /** Benchmark DECONTAMINATION at ingestion — the q195 census run per
    * micro-batch ("filter at the door"): corpus docs arrive as
    * id-ordered drops and each batch is probed against the FIXED
    * benchmark key set (doc_id % 50 == 0, the q195 split). Scoring is
    * per-document against static keys, so the sink must equal the
    * one-shot census EXACTLY. */
  private def contamination(c: Ctx): (Long, Long) = {
    val docs = Tables.documents(c.spark, c.sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    parity(
      c.sink(c.source(c.stage(corpus, Seq(col("doc_id")))), each = (df, _) =>
        Dedup.contaminationCensus(df, bench, "doc_id", "text", n = 5)),
      Dedup.contaminationCensus(corpus, bench, "doc_id", "text", n = 5))
  }

  /** CUSUM DRIFT MONITOR — the q232 detector as production runs it:
    * orders arrive as key-ordered drops and each micro-batch appends
    * its day-grain revenue as a partial-sum segment; day sums merge by
    * addition at read time, so the state is independent of batch
    * boundaries and appends never rewrite it. The readout over the
    * merged state is `CoreQueries.cusumReadout` — the batch query's own
    * code path — and must equal the one-shot q232 census EXACTLY. */
  private def cusum(c: Ctx): (Long, Long) = {
    val orders = Tables.t(c.spark, c.sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val drops = c.stage(orders, Seq(col("o_orderkey")), slice = _.drop("o_orderkey"))
    val state = c.sink(c.source(drops), each = (df, _) =>
      df.groupBy(col("o_orderdate"))
        .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("rev_cents")))
    val merged = state.groupBy(col("o_orderdate"))
      .agg(sum(col("rev_cents")).as("rev_cents"))
    parity(CoreQueries.cusumReadout(merged),
      CoreQueries.defs("q232_cusum_changepoint")(c.spark, c.sfDir))
  }

  /** SESSION WINDOWS — [[EventStreams.sessionCounts]]: the watermarked
    * `session_window` aggregation merges per-user sessions in state and
    * append mode emits each session once its close is final. Batch
    * twin: the ORACLE-CHECKED q32_sessionize (30-min inactivity gap).
    * The two gap rules differ only on an event landing EXACTLY `gap`
    * after its predecessor (session_window's half-open [start,
    * last+gap) splits it; q32's `us - prev > gap` merges it) — no
    * events fixture at any SF contains such a pair (verified against
    * all three), so the session sets must match EXACTLY: (user, start,
    * n_events) is a complete key because a user's sessions are
    * disjoint. */
  private def sessions(c: Ctx): (Long, Long) = parity(
    c.sink(EventStreams.sessionCounts(c.eventSource()))
      .filter(col("user_id") =!= -1L) // the sentinel's own session
      .select(col("user_id"), unix_micros(col("sess_start")).as("sess_start_us"),
        col("n_events")),
    EventQueries.defs("q32_sessionize")(c.spark, c.sfDir)
      .select(col("user_id"), col("sess_start_us"), col("n_events")))

  /** TRANSITION MATRIX — [[EventStreams.transitionStream]]: per-user
    * keyed state emits one (prev, next) transition per event once the
    * watermark passes it (the foldRipe buffer folds in event-time
    * order, so arrival order within the watermark delay cannot flip a
    * transition). The accumulated sink re-aggregated must equal the
    * ORACLE-CHECKED q90 matrix exactly — the sentinel both advances the
    * watermark and flushes every user's pending buffer. */
  private def transitions(c: Ctx): (Long, Long) = parity(
    c.sink(EventStreams.transitionStream(c.typedEvents).toDF())
      .filter(col("user_id") =!= -1L) // the sentinel's own transition
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n")),
    EventQueries.defs("q90_transition_matrix")(c.spark, c.sfDir))

  /** STAGED FUNNEL — [[EventStreams.funnelStages]] in Update mode:
    * per-user keyed state advances first-view → first-qualifying-click
    * → first-qualifying-purchase in event-time order (foldRipe). The
    * last emission per user must equal the ORACLE-CHECKED q85 funnel
    * row-for-row, restricted to users with a view (q85's grain). */
  private def funnel(c: Ctx): (Long, Long) = parity(
    lastEmission(c, EventStreams.funnelStages(c.typedEvents).toDF())
      .filter(col("view_us").isNotNull)
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us")),
    EventQueries.defs("q85_funnel_stages")(c.spark, c.sfDir))

  /** SLIDING WINDOWS — [[EventStreams.slidingCounts]] (10-min windows,
    * 5-min slide: every event lands in two windows) in append mode; the
    * emitted window set must equal the same operator on the batch table
    * exactly (integer counts — no float tolerance). */
  private def sliding(c: Ctx): (Long, Long) = parity(
    c.sink(EventStreams.slidingCounts(c.eventSource()))
      .filter(col("event_type") =!= Sentinel),
    EventStreams.slidingCounts(Tables.events(c.spark, c.sfDir)))

  /** Per-user integer EWMA — [[EventStreams.ewmaStream]] (α = 1/4,
    * exact int64 cents) in Update mode; the last emission per user must
    * equal the ORACLE-CHECKED q115 recursion row-for-row (the foldRipe
    * buffer folds in (event-time, event_id) order — q115's order — so
    * micro-batch boundaries cannot flip the recursion). */
  private def ewma(c: Ctx): (Long, Long) = parity(
    lastEmission(c, EventStreams.ewmaStream(c.typedEvents).toDF())
      .select(col("user_id"), col("n_events"), col("ewma").as("ewma_cents")),
    EventQueries.defs("q115_user_ewma")(c.spark, c.sfDir))

  /** WATERMARKED DEDUP — [[EventStreams.dedupEvents]]
    * (`dropDuplicatesWithinWatermark` on event_id) fed drops that
    * CARRY duplicates: every 5th event of each drop is re-appended to
    * the same file as an exact copy, so ~20% of arrivals are dups the
    * state store must absorb. The deduplicated stream must equal the
    * events table row-for-row; except is set-wise, so counts are pinned
    * too. */
  private def dedup(c: Ctx): (Long, Long) = {
    val streamed = c.sink(EventStreams.dedupEvents(
        c.eventSource(s => s.unionByName(s.filter(col("event_id") % 5 === 0)))))
      .filter(col("event_type") =!= Sentinel)
    val ev = c.events
    val rows = ev.count()
    (diff(streamed, ev) + math.abs(streamed.count() - rows), rows)
  }

  /** CHECKPOINT-RECOVERY parity: the tumbling aggregation is STOPPED
    * mid-corpus and a NEW query resumes from the SAME checkpoint over
    * the same append sink. File-source offsets, watermark and window
    * state all come back from the checkpoint WAL: the resumed run
    * processes only the unseen drops and re-emits nothing (a stateless
    * restart would either re-emit closed windows or drop the open
    * ones), and the final sink still equals the batch twin exactly —
    * executors die, queries restart, the sink must not care.
    * Mismatches include duplicate-window emissions. */
  private def restart(c: Ctx): (Long, Long) = {
    val staged = c.stageEvents()
    val live = Paths.get(c.dir, "live")
    Files.createDirectories(live)
    val listing = Files.list(Paths.get(staged))
    val files =
      try listing.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
      finally listing.close()
    // Copies land with EXPLICIT strictly-increasing mtimes: the file
    // source orders by modification time, and a tight copy loop gives
    // identical stamps — under maxFilesPerTrigger=1 a later drop can
    // then process FIRST, turning the earlier drop into late data
    // behind the watermark (silently dropped — the exact failure this
    // channel's first run exposed). Ctx.stage guarantees the same
    // invariant by staging sequentially.
    var stamp = System.currentTimeMillis()
    def arriveAndDrain(fs: Seq[Path]): DataFrame = {
      fs.foreach { f =>
        val dst = live.resolve(f.getFileName.toString)
        Files.copy(f, dst)
        Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(stamp))
        stamp += 1000
      }
      c.sink(EventStreams.tumblingCounts(c.source(live.toString)))
    }
    // the first half of the drops, a stop, then the rest (incl. the
    // watermark sentinel) under a new query recovering the checkpoint
    arriveAndDrain(files.take(files.length / 2).toSeq)
    val sink = arriveAndDrain(files.drop(files.length / 2).toSeq)
    val dups = sink.filter(col("event_type") =!= Sentinel)
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    val (bad, rows) = windowParity(c, sink)
    (bad + dups, rows)
  }

  /** STREAMING IVF APPEND — the embedding twin of [[admission]] and the
    * live form of q252's incremental index: centroids are trained ONCE
    * on the 80% base corpus (vec_id % 5 ≠ 4, the q252 split) and
    * persisted; the held-out 20% then arrives as id-ordered drops, each
    * micro-batch appended via `Similarity.appendToIvfIndex` (assignment
    * against the WRITTEN centroids — a pure per-vector function of the
    * frozen index, so batch boundaries cannot move any vector's cell).
    * Parity holds at BOTH index grains: the appended assignments must
    * be row-identical to a one-shot append over a twin index, and
    * serving q252's query subset from either index must agree exactly.
    * The count term guards what set-wise except cannot: a retried
    * micro-batch double-appending its rows. Rows are serve rows. */
  private def ivfAppend(c: Ctx): (Long, Long) = {
    val emb = Tables.embeddings(c.spark, c.sfDir).select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    val inc = emb.filter(col("vec_id") % 5 === 4)
    // the exact-integer Lloyd pipeline is bit-deterministic, so a second
    // build over the same base writes identical centroids — the one-shot
    // append against it is the channel's oracle
    val Seq(streamIdx, batchIdx) = Seq("stream_index", "batch_index").map { n =>
      val idx = s"${c.dir}/$n"
      Similarity.buildIvfIndex(base, "vec_id", "embedding", idx, cells = 16, lloydIters = 2)
      idx
    }
    Similarity.appendToIvfIndex(c.spark, batchIdx, inc, "vec_id", "embedding")
    c.drain(c.source(c.stage(inc, Seq(col("vec_id"))))) { (df, batchId) =>
      // foreachBatch is at-least-once: a micro-batch whose append
      // succeeded but whose stream checkpoint commit didn't is
      // REDELIVERED on restart, and a second append would double its
      // rows. A per-batchId marker committed AFTER the append makes the
      // retry a no-op (a failed append job leaves only unread _temporary
      // files, so append-then-marker closes the remaining window).
      val marker = Paths.get(c.dir, "applied", s"batch_$batchId")
      if (!Files.exists(marker)) {
        Similarity.appendToIvfIndex(c.spark, streamIdx, df, "vec_id", "embedding")
        Files.createDirectories(marker.getParent)
        Files.createFile(marker)
      }
    }
    val Seq(sIdx, bIdx) = Seq(streamIdx, batchIdx)
      .map(idx => c.spark.read.parquet(s"$idx/assignments.parquet"))
    val idxBad = diff(sIdx, bIdx) + math.abs(sIdx.count() - bIdx.count())
    val qs = emb.filter(col("vec_id") % 20 === 0)
    def serve(idx: String): DataFrame =
      Similarity.ivfTopKIndexed(idx, emb, qs, "vec_id", "embedding", 5)
    val (serveBad, rows) = parity(serve(streamIdx), serve(batchIdx))
    (idxBad + serveBad, rows)
  }

  /** One parity channel: its STREAM_PARITY verdict and row-count keys,
    * the claim it proves (its StreamEndToEndSpec test name; channels
    * sharing a claim share a test) and its runner, which returns
    * (mismatches, batch-twin rows). */
  final case class Channel(verdict: String, rows: String, claim: String,
                           runner: Ctx => (Long, Long)) {
    /** Run in `workDir/verdict`, then release every unpinned checkpoint
      * block the channel left behind. */
    def run(spark: SparkSession, sfDir: String, workDir: String): (Long, Long) =
      try runner(Ctx(spark, sfDir, s"$workDir/$verdict"))
      finally Checkpoints.releaseAll(spark)
  }

  private val TumblingCoedges =
    "streamed tumbling windows and co-edges match the oracle-checked batch twins"

  /** Every channel, in STREAM_PARITY order. */
  val channels: Seq[Channel] = Seq(
    Channel("tumbling", "tumbling_windows", TumblingCoedges, tumbling),
    Channel("coedges", "coedge_groups", TumblingCoedges, coedges),
    Channel("admission", "admission_docs",
      "streamed incremental near-dup admission matches q192's batch verdicts", admission),
    Channel("novelty", "novelty_docs",
      "streamed incremental novelty (evolving first-sighting index) " +
        "matches q205's one-shot census", novelty),
    Channel("contamination", "contamination_docs",
      "streamed benchmark decontamination (micro-batch probe against " +
        "the fixed key set) matches q195's one-shot census", contamination),
    Channel("cusum", "cusum_days",
      "streamed CUSUM drift monitor (additive day-grain state across " +
        "micro-batches) matches q232's one-shot changepoint census", cusum),
    Channel("sessions", "sessions",
      "streamed session windows (watermarked session_window, append " +
        "mode) match q32's one-shot sessionization", sessions),
    Channel("transitions", "transitions",
      "streamed per-user transitions (event-time-ordered keyed state) " +
        "re-aggregate to q90's one-shot matrix", transitions),
    Channel("funnel", "funnel_users",
      "streamed staged funnel (Update-mode keyed state, last emission " +
        "per user) matches q85's one-shot funnel", funnel),
    Channel("sliding", "sliding_windows",
      "streamed sliding windows (append mode, 2 windows per event) " +
        "match the batch operator exactly", sliding),
    Channel("ewma", "ewma_users",
      "streamed per-user integer EWMA (Update-mode keyed state) " +
        "matches q115's one-shot recursion", ewma),
    Channel("dedup", "dedup_events",
      "watermarked dedup absorbs ~20% duplicated arrivals and restores " +
        "the base relation exactly", dedup),
    Channel("restart", "restart_windows",
      "a stateful query stopped mid-corpus and resumed from its " +
        "checkpoint still equals the batch twin with no re-emissions", restart),
    Channel("ivf_append", "ivf_serve_rows",
      "streamed IVF appends (micro-batch assignment against frozen " +
        "centroids) yield the one-shot batch index and identical serving", ivfAppend))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft_stream").toString)
    val spark = Session.local()
    val results = channels.map(ch => ch -> ch.run(spark, sfDir, workDir))
    def verdict(bad: Long) = if (bad == 0) "OK" else s"FAIL($bad)"
    val fields = results.map { case (ch, (bad, _)) => s"${ch.verdict}=${verdict(bad)}" } ++
      results.map { case (ch, (_, rows)) => s"${ch.rows}=$rows" }
    println(("STREAM_PARITY" +: fields :+ s"sf=$sfDir").mkString(" "))
    spark.stop()
    if (results.exists { case (_, (bad, _)) => bad > 0 }) sys.exit(1)
  }
}
