package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Dedup, Relational}
import graft.sources.Tables

/** Text-analysis + deduplication surface over the `documents` table
  * (SURVEY.md §2.11). SQL-expressible ops carry a DuckDB oracle;
  * the xxhash64-based ones (minhash/simhash) are engine-hash-specific
  * and get the rows-only check.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One persisted BM25 inverted index per (session, sfDir) — the
    * SimQueries.ivfIndexDir convention for the text layer: built on
    * first use, reused by later q175 runs in the session, so the
    * bench's repeat passes measure SERVING (probed-term posting scan
    * + scoring), not the index build. */
  /** One persisted minhash index per (session, sfDir) — the build/
    * serve split for q192's incremental admission (built with q26's
    * signature parameters; the oracle recomputes the same chain from
    * the documents table, so it never reads these files). */
  private val minhashIndexDirs = new IndexCache("graft_minhash")
  private def minhashIndexDir(s: SparkSession, d: String): String =
    minhashIndexDirs.get(s, d) { dir =>
      graft.operators.Dedup.buildMinhashIndex(
        Tables.documents(s, d), "doc_id", "text", dir)
    }

  /** The q192 increment: every 7th document re-enters with its id
    * offset by 10^6 and its text either kept verbatim (exact copy,
    * 1/14), reversed (novel, 1/21), or with its last word dropped
    * (near-dup, the rest) — the CASE order matches the oracle. */
  private[graft] def incrementBatch(s: SparkSession, d: String): DataFrame = {
    val ws = TextFns.words(TextFns.norm(col("text")))
    Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 14 === 0, TextFns.norm(col("text")))
          .when(col("doc_id") % 21 === 0, array_join(reverse(ws), " "))
          .otherwise(array_join(slice(ws, lit(1), size(ws) - 1), " "))
          .as("text"))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
  }

  /** Session-pinned q195 census shared with q198 (the spine
    * convention): the corpus-wide 5-gram shingling + broadcast probe
    * is the dominant stage of both queries and runs once per
    * (session, sfDir). Build serialized (the IndexCache race). */
  private val censusCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String),
      org.apache.spark.sql.DataFrame]()
  private def censusSpine(s: SparkSession,
                          d: String): org.apache.spark.sql.DataFrame = {
    censusCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    censusCache.synchronized { censusCache.getOrElseUpdate((s, d), {
      censusCache.keys.filter(k => k._1 == s && k._2 != d).foreach { k =>
        censusCache.remove(k).foreach(graft.Checkpoints.release)
      }
      val docs = Tables.documents(s, d)
      graft.Checkpoints.checkpointPinned(Dedup.contaminationCensus(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5))
    }) }
  }

  /** Session-pinned q202 near-dup CLUSTER verdicts shared by q202 /
    * q213 / q214 (the censusSpine convention): the LSH chain + star
    * contraction is the dominant stage of all three and runs once per
    * (session, sfDir). Build serialized (the IndexCache race). */
  private val clusterCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String),
      org.apache.spark.sql.DataFrame]()
  private def clusterSpine(s: SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    clusterCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    clusterCache.synchronized { clusterCache.getOrElseUpdate((s, d), {
      clusterCache.keys.filter(k => k._1 == s && k._2 != d).foreach { k =>
        clusterCache.remove(k).foreach(graft.Checkpoints.release)
      }
      graft.Checkpoints.checkpointPinned(Dedup.nearDupKeeper(
        Tables.documents(s, d), "doc_id", "text"))
    }) }
  }

  /** Session-pinned EXACT 3-gram Jaccard ≥ 0.3 truth relation
    * (id_a, id_b, jaccard) — the PPJoin pass both eval queries grade
    * against (q210 keeps the jaccard, q221 keeps the pair ids). Same
    * lifecycle discipline as [[clusterSpine]]: one PPJoin per
    * (session, sfDir), every consumer serves from the pin. */
  private val truthCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String),
      org.apache.spark.sql.DataFrame]()
  private def jaccardTruth(s: SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    truthCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    truthCache.synchronized { truthCache.getOrElseUpdate((s, d), {
      truthCache.keys.filter(k => k._1 == s && k._2 != d).foreach { k =>
        truthCache.remove(k).foreach(graft.Checkpoints.release)
      }
      graft.Checkpoints.checkpointPinned(Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", 3, 0.3))
    }) }
  }

  private val bm25IndexDirs = new IndexCache("graft_bm25")
  private def bm25IndexDir(s: SparkSession, d: String): String =
    bm25IndexDirs.get(s, d) { dir =>
      graft.operators.TextIndex.buildBm25Index(
        graft.sources.Tables.documents(s, d), "doc_id", "text", dir)
    }

  /** One INCREMENTALLY-assembled BM25 index per (session, sfDir): built
    * from 80% of the corpus, then the remaining 20% APPENDED
    * (TextIndex.appendToBm25Index) — the q192 ingestion shape for the
    * retrieval index. Serving from it is bit-equal to the one-shot
    * build, which is exactly what q212's oracle (= q175's) checks. */
  private val bm25IncIndexDirs = new IndexCache("graft_bm25i")
  private def bm25IncIndexDir(s: SparkSession, d: String): String =
    bm25IncIndexDirs.get(s, d) { dir =>
      val docs = graft.sources.Tables.documents(s, d)
      graft.operators.TextIndex.buildBm25Index(
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text", dir)
      graft.operators.TextIndex.appendToBm25Index(
        s, dir, docs.filter(col("doc_id") % 5 === 4), "doc_id", "text")
    }

  private def normSql(c: String) =
    s"lower(trim(regexp_replace($c, '\\s+', ' ', 'g')))"

  // Quality-score pieces shared by q21 (reports them) and q74 (filters
  // on them) — ONE definition per engine side, so the quartile filter
  // can never drift from the reported score.
  private def stopRatioCol(w: org.apache.spark.sql.Column,
                           nw: org.apache.spark.sql.Column) =
    round(TextFns.stopCount(w, TextFns.langProfiles.toMap.apply("en"))
      .cast("double") / nw, 4)
  private def qualityCol(nw: org.apache.spark.sql.Column,
                         stopRatio: org.apache.spark.sql.Column) =
    round(least(lit(1.0), nw.cast("double") / 100.0) *
      (lit(1.0) - stopRatio), 4)
  private val stopRatioSql =
    "round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to')))" +
      " AS DOUBLE) / len(w), 4)"
  private def qualitySql(nWords: String, stopRatio: String) =
    s"round(least(1.0, CAST($nWords AS DOUBLE) / 100.0) * (1.0 - $stopRatio), 4)"

  /** Serialize each document into the reference's EXACT abstract
    * storage format — `{"IndexLength":N,"InvertedIndex":{word:
    * [positions]}}` (`data/samples/PaperAbstractsInvertedIndex.txt:1`)
    * — via real JSON codecs. Shared by q59 (in-memory round-trip) and
    * the q263 catalog-ingest fixture; map keys sorted so the JSON is
    * byte-deterministic. Returns (doc_id, js). */
  private def invertedIndexJson(docs: DataFrame): DataFrame = {
    val w = TextFns.words(TextFns.norm(col("text")))
    docs.select(col("doc_id"), posexplode(w).as(Seq("pos", "word")))
      .groupBy(col("doc_id"), col("word"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(array_sort(
          collect_list(struct(col("word"), col("positions")))))
          .as("InvertedIndex"),
        sum(size(col("positions"))).cast("int").as("IndexLength"))
      .select(col("doc_id"),
        to_json(struct(col("IndexLength"), col("InvertedIndex"))).as("js"))
  }

  /** PaperAbstractsInvertedIndex-shaped TSV fixture per (session,
    * sfDir) — the LAST of the reference's 18 sample relations to get a
    * declared catalog read (`data/samples/PaperAbstractsInvertedIndex
    * .txt`: one (paper_id, json) row per paper). Content is a pure
    * function of the SF tables (every `documents` row serialized by
    * [[invertedIndexJson]]); lifecycle identical to the q190/magAuxDir
    * convention: deterministic per-SF path, DuckDB reads the SAME
    * files post-JVM, so the declared-schema quote-free TSV read itself
    * sits under the hash gate. */
  private val absDirs =
    scala.collection.concurrent.TrieMap[(SparkSession, String), String]()
  private def abstractsDir(s: SparkSession, d: String): String = {
    absDirs.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    absDirs.synchronized { absDirs.getOrElseUpdate((s, d), {
      val sfName = d.split('/').filter(_.nonEmpty).last
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_magabs_$sfName").toString
      invertedIndexJson(Tables.documents(s, d))
        .select(concat_ws("\t", col("doc_id"), col("js")).as("value"))
        .write.mode("overwrite")
        .text(s"$dir/PaperAbstractsInvertedIndex.txt")
      dir
    }) }
  }

  val defs: Map[String, Q] = Map(
    // WILSON LOWER-BOUND RANKING (Wilson 1927; the sort-by-LCB rule) —
    // the small-n-safe way to rank sources by a pass rate: a 3-doc
    // source at 3/3 must NOT outrank a 500-doc source at 95%, which a
    // raw-rate sort gets wrong (the rate_rank column rides along so
    // the census SHOWS those inversions). Pass = the q136-style length
    // gate. With z = 2 the interval is rational up to ONE integer
    // square root: LCB = ((s+2) − 2·√((s(n−s)+n)/n)) / (n+4), computed
    // as ((s+2)·10⁴ − 2·isqrt((s(n−s)+n)·10⁸ div n)) div (n+4) —
    // isqrt is the IEEE-sqrt + ±1 correction (Relational.isqrt, the
    // q155 machinery), exact-floor deterministic in both engines; the
    // numerator is NONNEGATIVE (isqrt ≤ the true root and the true
    // LCB ≥ 0), so no sign split. Intermediates hold while
    // n²/4·10⁸ < 2^63 (n ≤ ~600k docs/source; far above gate SFs).
    // One keyed aggregate + a groups-sized readout.
    "q276_rate_lcb_ranking" -> { (s, d) =>
      val per = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars").between(200, 2000), 1L).otherwise(0L))
            .as("n_pass"))
      per
        .withColumn("wroot", Relational.isqrt(
          expr("(n_pass * (n_docs - n_pass) + n_docs)" +
            " * 100000000 div n_docs")))
        .select(col("source"), col("n_docs"), col("n_pass"),
          expr("n_pass * 10000 div n_docs").as("rate_x10k"),
          expr("((n_pass + 2) * 10000 - 2 * wroot) div (n_docs + 4)")
            .as("lcb_x10k"))
        .withColumn("lcb_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("lcb_x10k").desc, col("source"))).cast("long"))
        .withColumn("rate_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rate_x10k").desc, col("source"))).cast("long"))
    },

    // Tokenization stats: whitespace tokens vs BPE-ish regex tokens.
    "q20_token_stats" -> { (s, d) =>
      val n = TextFns.norm(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextFns.words(n)).cast("long").as("n_ws_tokens"),
        size(TextFns.regexTokens(n)).cast("long").as("n_re_tokens"),
        length(n).cast("long").as("n_chars_norm"))
    },

    // TOKENIZER FERTILITY census per language — the multilingual
    // tokenizer-efficiency readout (fertility = subword tokens per
    // word; a tokenizer that fragments one language inflates its
    // training cost and starves its effective context): per declared
    // doc language, corpus mass in words / BPE-ish regex tokens /
    // normalized chars, fertility and chars-per-token in exact basis
    // points. One scan + one O(languages) aggregate.
    "q262_token_fertility" -> { (s, d) =>
      val n = TextFns.norm(col("text"))
      Tables.documents(s, d)
        .select(col("lang"),
          size(TextFns.words(n)).cast("long").as("nw"),
          size(TextFns.regexTokens(n)).cast("long").as("nt"),
          length(n).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
          sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens"), col("n_chars"),
          expr("n_tokens * 10000 div n_words").as("fertility_x10k"),
          expr("n_chars * 10000 div n_tokens").as("chars_per_tok_x10k"))
    },

    // Quality scoring: length/stopword-ratio/word-length features.
    "q21_doc_quality" -> { (s, d) =>
      val n = TextFns.norm(col("text"))
      val w = TextFns.words(n)
      val nw = size(w).cast("long")
      val stopRatio = stopRatioCol(w, nw)
      Tables.documents(s, d).select(
        col("doc_id"), nw.as("n_words"),
        stopRatio.as("stop_ratio"),
        round((length(n) - (nw - 1)).cast("double") / nw, 4).as("avg_word_len"),
        qualityCol(nw, stopRatio).as("quality"))
    },

    // Deterministic STRATIFIED sample — the training-mix primitive
    // (fixed quota per stratum, e.g. balanced sources): per source,
    // keep exactly the 20 docs ranked first by the established LCG
    // hash (q67's multiplier; same >= 0 guard and exact-integer
    // cross-engine parity), tie-broken by doc_id. Unlike q67's
    // Bernoulli sample the quota is exact per group, and unlike
    // df.sample the result is partitioning-independent.
    "q73_stratified_sample" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .filter(col("doc_id") >= 0)
        .withColumn("h", lcgHash(col("doc_id")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .filter(col("rk") <= 20)
        .select(col("source"), col("doc_id"), col("rk"))
    },

    // Per-stratum quality filter — the curation step after q21's
    // scoring: keep each source's top quality quartile
    // (percent_rank <= 0.25 over a TOTAL order: quality desc, doc_id).
    // percent_rank is (rank-1)/(n-1) in both engines — exact integer
    // division in doubles, cross-engine stable.
    "q74_quality_stratum" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val n = TextFns.norm(col("text"))
      val w = TextFns.words(n)
      val nw = size(w).cast("long")
      val quality = qualityCol(nw, stopRatioCol(w, nw))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), quality.as("quality"))
        .withColumn("pr", percent_rank().over(
          Window.partitionBy(col("source"))
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("pr") <= 0.25)
        .select(col("source"), col("doc_id"), col("quality"))
    },

    // Equi-depth QUALITY deciles — the curriculum-ordering plan (train
    // low→high quality, or sample per bucket): every document lands in
    // one of 10 equal-depth buckets of the q21 quality score and the
    // plan reports each bucket's doc and token mass. ntile() would
    // funnel the corpus through ONE reducer (a global window with no
    // partition key); the decile is instead derived from the
    // range-partitioned two-phase global rank (the q86/q139
    // discipline) as ((rank−1)·10) div n over the (quality, doc_id)
    // total order — the oracle replays the same arithmetic on a plain
    // single-window rank (equivalent semantics, different physical
    // plan).
    "q154_quality_curriculum" -> { (s, d) =>
      val n = TextFns.norm(col("text"))
      val w = TextFns.words(n)
      val nw = size(w).cast("long")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), nw.as("n_words"),
          qualityCol(nw, stopRatioCol(w, nw)).as("quality"))
        .filter(col("n_words") > 0)
      val ranked = graft.operators.Relational.globalCumsum(
        scored, Seq(col("quality"), col("doc_id")), lit(1L), "rank")
      // count the RANKED side, not `scored`: globalCumsum materializes
      // its range-partitioned input, so this count is a cached-block
      // scan — counting `scored` would run the regexp tokenization
      // (the query's dominant cost) a second time over the full corpus
      // (r18: the q154 perf-settlement item)
      val total = ranked.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(total))
        .withColumn("decile", expr("((rank - 1) * 10) div n_total"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"))
    },

    // Context-window CHUNK PLAN — the long-document splitting step of
    // an LLM ingest pipeline: each doc becomes chunks of up to 50
    // tokens with stride 40 (10-token overlap), as pure relational
    // metadata (doc_id, chunk_idx, start_tok, n_tok) — no text bytes
    // move until a downstream stage slices them, so the scan prunes
    // `text` for planning-only consumers... of this query's output.
    // One explode, no shuffle except the driver-side sink.
    "q75_chunk_plan" -> { (s, d) =>
      val nw = size(TextFns.words(TextFns.norm(col("text")))).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), nw.as("n_words"))
        .filter(col("n_words") > 0)
        // starts bounded by n_words - (overlap + 1): a start within the
        // last `overlap` tokens would yield a chunk fully contained in
        // its predecessor (duplicated training tokens); the bound still
        // covers every token — the last kept start is > n_words - 51,
        // so its 50-token window reaches the end
        .select(col("doc_id"), col("n_words"),
          posexplode(sequence(lit(0L),
            greatest(col("n_words") - 11, lit(0L)), lit(40L))))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_idx"),
          col("col").as("start_tok"),
          least(lit(50L), col("n_words") - col("col")).as("n_tok"))
    },

    // Per-source TOKEN BUDGET selection — the "fill N tokens from each
    // source" training-mix step: docs are taken in deterministic
    // LCG-hash order (q67's multiplier) and kept while the source's
    // RUNNING token total stays within budget. Exact integer window
    // sum — cross-engine stable.
    "q76_token_budget" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 800L
      val nTok = size(TextFns.words(TextFns.norm(col("text")))).cast("long")
      Tables.documents(s, d)
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"), nTok.as("n_tok"),
          lcgHash(col("doc_id")).as("h"))
        .withColumn("cum_tok", sum(col("n_tok")).over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum_tok") <= budget)
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
    },

    // Repetition signals — the Gopher-rule quality filters a training
    // pipeline runs besides q21's length/stopword features: top-word
    // concentration (max term frequency / doc length) and type-token
    // ratio (distinct words / words). High concentration or low TTR
    // marks boilerplate/degenerate text. One explode + one groupBy.
    "q77_repetition_signals" -> { (s, d) =>
      val w = TextFns.words(TextFns.norm(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(w).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          round(max(col("c")).cast("double") / sum(col("c")), 4)
            .as("top_word_ratio"),
          round(count(lit(1)).cast("double") / sum(col("c")), 4)
            .as("type_token_ratio"))
    },

    // LEAKAGE-SAFE train/val/test split — the assignment step of a
    // training pipeline done right: the split is keyed on each doc's
    // DEDUP-GROUP canonical id (min doc_id over the q24 80-char-prefix
    // group), so exact near-duplicates can never straddle train and
    // test; buckets are the established LCG hash → 80/10/10. Split
    // follows the canonical id BY CONSTRUCTION, not by luck.
    "q79_leakage_safe_split" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"),
          substring(TextFns.norm(col("text")), 1, 80).as("dk"))
        .withColumn("canon",
          min(col("doc_id")).over(Window.partitionBy(col("dk"))))
        .withColumn("bucket", lcgHash(col("canon")) % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("canon"), col("split"))
    },

    // Language-ID heuristic vs the labeled lang column.
    // PII redaction — the curation step every training pipeline runs
    // before text leaves quarantine. The corpus is synthetic word
    // salad, so a deterministic contact line (email + phone derived
    // from doc_id/source) is appended first and BOTH engines redact
    // the same input: the oracle proves the regex semantics (count +
    // global replace) match, not just that nothing matched. Patterns
    // stay in the Java-regex ∩ RE2 common dialect (char classes,
    // bounded repeats — no backrefs or lookaround).
    "q82_pii_redaction" -> { (s, d) =>
      val contact = concat(
        lit("contact user"), col("doc_id"), lit("@mail-"), col("source"),
        lit(".com tel +01-"),
        lpad(pmod(col("doc_id") * 7919L, lit(10000000L)).cast("string"),
          7, "0"))
      val emailPat = "[a-z0-9]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phonePat = "\\+[0-9]{2}-[0-9]{7}"
      // doc_id >= 0 guard: the phone digits come from pmod, which
      // diverges from the oracle's % for negative keys (the repo-wide
      // hash contract — same guard as q86).
      Tables.documents(s, d).filter(col("doc_id") >= 0)
        .withColumn("raw", concat_ws(" ", col("text"), contact))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(emailPat)).cast("long").as("n_emails"),
          regexp_count(col("raw"), lit(phonePat)).cast("long").as("n_phones"),
          regexp_replace(
            regexp_replace(col("raw"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"))
    },

    // BM25 term scoring (k1=1.2, b=0.75) in EXACT RATIONAL form: with
    // the log-free ratio idf (N−df+0.5)/(df+0.5) = (2N−2df+1)/(2df+1)
    // and the saturation denominator multiplied through by 20·totdl,
    // BM25 becomes the integer fraction
    //   num = 44·tf·totdl·(2N−2df+1)
    //   den = (2df+1)·(20·totdl·tf + 6·totdl + 18·dl·N)
    // — bit-exact cross-engine (the q66 discipline, extended to the
    // saturated form). Ranking divides once (one IEEE op, identical on
    // both engines) with the term as tie-break; the emitted columns
    // are the integers. Int64 headroom note: num < 44·tf·totdl·2N —
    // fine into the billions of tokens; beyond that, scale the
    // constants down or emit the double.
    "q88_bm25_topterms" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFns.words(TextFns.norm(col("text")))).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val dfx = tf.groupBy(col("word")).agg(count(lit(1)).as("df_"))
      val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("totdl"))
      val scored = tf.join(dl, "doc_id").join(dfx, "word")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("word"),
          (lit(44L) * col("tf") * col("totdl") *
            (lit(2L) * col("n_docs") - lit(2L) * col("df_") + lit(1L)))
            .as("score_num"),
          ((lit(2L) * col("df_") + lit(1L)) *
            (lit(20L) * col("totdl") * col("tf") + lit(6L) * col("totdl") +
              lit(18L) * col("dl") * col("n_docs"))).as("score_den"))
      graft.operators.Relational.topKPerGroup(
          scored.withColumn("ratio",
            col("score_num").cast("double") / col("score_den").cast("double")),
          Seq(col("doc_id")), Seq(col("ratio").desc, col("word")), 3)
        .select(col("doc_id"), col("word"),
          col("score_num"), col("score_den"), col("rn"))
    },

    // Weight-proportional SYSTEMATIC sampling (~200 docs, inclusion
    // probability ∝ n_chars): walk the corpus in deterministic hash
    // order, keep every doc whose cumulative weight straddles a stride
    // boundary (stride = total/200). All-integer arithmetic — exactly
    // reproducible cross-engine, unlike -ln(u)/w priority sampling.
    // The global running sum uses Relational.globalCumsum (range-
    // partition + broadcast offsets), NOT a single-partition window —
    // this query exists as much for that operator's scale shape as for
    // the sampler.
    "q86_weighted_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("n_chars"))
      val cum = graft.operators.Relational.globalCumsum(docs,
        Seq(lcgHash(col("doc_id")), col("doc_id")), col("n_chars"), "cum")
      val tot = docs.agg(sum(col("n_chars")).as("_tot"))
      cum.crossJoin(broadcast(tot))
        .withColumn("_stride", greatest(lit(1L), expr("_tot div 200")))
        .filter(expr("cum div _stride") > expr("(cum - n_chars) div _stride"))
        .select(col("doc_id"), col("n_chars"), col("cum"))
    },

    // Cross-source contamination matrix — q65 generalized from
    // "corpus vs one eval set" to every source pair: how many distinct
    // 5-gram shingles each pair of sources shares. The corpus
    // diagnostic that tells you WHICH feeds copy from each other
    // before any of them is trusted as held-out. Distinct grain per
    // (source, shingle) keeps the join skew-free; output is the upper
    // triangle.
    "q95_source_overlap" -> { (s, d) =>
      val srcSh = Dedup.docShingles(
          Tables.documents(s, d), "doc_id", "text", 5)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("source"), col("sh")).distinct()
      srcSh.select(col("source").as("src_a"), col("sh"))
        .join(srcSh.select(col("source").as("src_b"), col("sh")), "sh")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared_shingles"))
    },

    // q95's capability at SKETCH cost — pairwise distinct-union /
    // distinct-intersection ESTIMATES between every source pair from
    // per-source KMV sketches (k = 128 smallest mixed hashes of the
    // same 5-gram shingles). The exact matrix shuffles the full
    // (source, shingle) grain per pair; this touches it once to build
    // k-row sketches, then every pair estimate is sketch-only
    // arithmetic — the 100 TB screening pass that decides WHICH pairs
    // earn the exact q95 treatment. Fully oracle-checked: the hash,
    // the per-source and merged k-minima, and both estimators replay
    // in SQL (exact-count branch when a merged sketch is complete).
    "q153_kmv_source_ops" -> { (s, d) =>
      val k = 128
      val docs = Tables.documents(s, d)
      val srcHash = Dedup.docShingles(docs, "doc_id", "text", 5)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"),
          graft.operators.Sketches.mixedStringHash(col("sh")).as("h"))
      val sk = graft.operators.Sketches.kmvMinHashes(srcHash, "source",
        col("h"), k)
      graft.operators.Sketches.kmvPairEstimates(sk, "source", k)
        .select(col("ga").as("src_a"), col("gb").as("src_b"),
          col("n_shared").as("n_shared_sketch"),
          round(col("est_union"), 3).as("est_union"),
          round(col("est_inter"), 3).as("est_inter"))
    },

    // Collocation mining — the top-50 corpus bigrams by PMI (pointwise
    // mutual information, Church & Hanks 1990 — public):
    // P(xy)/(P(x)P(y)) over the bigram-position event space, kept as
    // the EXACT integer rational n_xy·N/(n_x·n_y) with one shared
    // rounded division for the ranking (the q66 log-free discipline —
    // PMI's log is monotone, so ranking the lift IS ranking the PMI).
    // n_x/n_y are first-/second-position unigram counts, the
    // consistent denominators for that event space. Min-support 5
    // guards the rare-pair PMI blowup; ties break on the bigram
    // string. Bigram totals are a corpus scalar (broadcast, q42
    // shape).
    "q158_pmi_collocations" -> { (s, d) =>
      // ONE corpus-scale aggregate: the (x, y) pair-count relation.
      // First/second-position unigram counts and the bigram total are
      // pure re-aggregations of it (n_first(w) = Σ n_xy over x = w),
      // so the corpus is scanned once, not four times — measured
      // 4.6 s → 0.7 s at sf0.1 (with the struct pairs below), identical
      // output.
      // adjacent pairs as structs straight off the token array — no
      // intermediate bigram STRING to build and re-split per position
      val words = TextFns.words(TextFns.norm(col("text")))
      val cnt = graft.Checkpoints.checkpoint(
        Tables.documents(s, d)
          .select(explode(when(size(words) >= 2,
            zip_with(slice(words, lit(1), size(words) - 1),
              slice(words, lit(2), size(words) - 1),
              (a, b) => struct(a.as("x"), b.as("y"))))
            .otherwise(array())).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(count(lit(1)).as("n_xy")))
      val uniX = cnt.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
      val uniY = cnt.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
      val total = cnt.agg(sum(col("n_xy")).as("n_total"))
      cnt.filter(col("n_xy") >= 5)
        .join(uniX, "x").join(uniY, "y")
        .crossJoin(broadcast(total))
        .withColumn("bg", concat_ws(" ", col("x"), col("y")))
        .withColumn("lift", round(
          (col("n_xy") * col("n_total")).cast("double") /
            (col("n_x") * col("n_y")), 4))
        .orderBy(col("lift").desc, col("bg"))
        .limit(50)
        .select(col("bg"), col("n_xy"), col("n_x"), col("n_y"),
          col("n_total"), col("lift"))
    },

    // Chunk-grain (boilerplate) dedup — sub-document duplication that
    // document-level dedup can't see: every q75-geometry chunk
    // (50 tokens, stride 40) is fingerprinted with the portable
    // polynomial hash and chunks whose fingerprint repeats anywhere in
    // the corpus come back flagged with their copy count. The
    // suffix-array substring-dedup capability at chunk resolution,
    // as one fingerprint groupBy.
    "q94_chunk_dedup" -> { (s, d) =>
      val words = TextFns.words(TextFns.norm(col("text")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), words.as("w"),
          size(words).cast("long").as("n_words"))
        .filter(col("n_words") > 0)
      val chunks = docs.select(col("doc_id"),
          explode(sequence(lit(0L),
            greatest(col("n_words") - 11, lit(0L)), lit(40L))).as("start_tok"),
          col("w"))
        .select(col("doc_id"), col("start_tok"),
          TextFns.polyHash(array_join(
            slice(col("w"), (col("start_tok") + 1).cast("int"), lit(50)), " "))
            .as("fp"))
      val dup = chunks.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
      chunks.join(dup, "fp")
        .select(col("doc_id"), col("start_tok"), col("fp"), col("n_copies"))
    },

    // EXACT substring-span dedup (Lee et al. ACL'22 at fixed minimum
    // length, relational form): maximal duplicated spans ≥ 8 tokens
    // with exact token offsets — finds a duplicated paragraph even
    // when it straddles q94's chunk cuts. Oracle replays the sorted-
    // shingle-run detection (islands on pos − row_number) with the
    // shingle STRING as the frequency key where the Spark side uses
    // its xxhash64 (identical counts barring ~n²·2⁻⁶⁴ collisions —
    // the q25 convention).
    "q144_span_dedup" -> { (s, d) =>
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text", 8)
    },

    // BM25 retrieval served from the PERSISTED inverted index
    // (TextIndex scaladoc — the q119 build/serve convention for the
    // text layer): index built once per (session, sfDir), each run
    // reads only the probed terms' postings (pushed term filter).
    // Oracle recomputes the identical ranking from the raw documents
    // table — the index is a pure materialization.
    "q175_bm25_indexed" -> { (s, d) =>
      graft.operators.TextIndex.bm25TopKIndexed(s, bm25IndexDir(s, d),
        Seq("query", "merge", "spark"), 20)
    },

    // BM25 over the INCREMENTALLY-assembled index (80% built + 20%
    // appended): postings/doclens grow by parquet append, the
    // vocabulary-sized sidecars merge additively — and the serve is
    // bit-equal to the one-shot build, so the oracle is literally
    // q175's. The production index-maintenance shape: new docs cost
    // O(batch), the corpus is never re-tokenized.
    "q212_bm25_incremental" -> { (s, d) =>
      graft.operators.TextIndex.bm25TopKIndexed(s, bm25IncIndexDir(s, d),
        Seq("query", "merge", "spark"), 20)
    },

    // Greedy max-coverage selection (Dedup.greedyCoverage scaladoc):
    // 5 rounds of marginal-gain argmax over word 3-gram coverage —
    // the submodular "cover the most new content" curation pick. The
    // oracle unrolls all 5 rounds (anti-join against the growing
    // covered set, the same (gain DESC, doc_id) argmax).
    "q170_coverage_picks" -> { (s, d) =>
      Dedup.greedyCoverage(Tables.documents(s, d), "doc_id", "text",
        k = 5, shingleN = 3)
    },

    // HYBRID RETRIEVAL by Reciprocal Rank Fusion (Cormack, Clarke &
    // Buettcher, SIGIR 2009 — public): fuse q88's lexical BM25
    // ranking with a q152-style tf-idf cosine ranking for one fixed
    // query, rrf = Σ 1000000 div (60 + rank) over the top-100 of each
    // ranking — the integer-scaled RRF, so the fusion replays
    // bit-exactly. Float discipline (q88/q163): each per-term BM25
    // ratio and the cosine spend exactly ONE IEEE division (the
    // cosine after IEEE-exact integer-valued doubles), and per-doc
    // ratios add in fixed term order (pivot columns, left-assoc), so
    // both engines land on identical doubles, identical ranks,
    // identical fusion. Scale shape: rankings are top-k windows over
    // candidate sets (docs holding ≥ 1 query term / ≥ 1 dictionary
    // overlap); the fusion itself joins two ≤ 100-row relations.
    "q167_rank_fusion" -> { (s, d) =>
      val qterms = Seq("query", "merge", "spark")
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextFns.words(TextFns.norm(col("text")))).as("term"))
      val tf = graft.Checkpoints.checkpoint(
        toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_"))
      val dict = dfreq.orderBy(col("df_").desc, col("term")).limit(32)
      val tot = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("totdl"))
      // ranking A: per-term BM25 ratio (the q88 integer num/den, one
      // division), summed in fixed term order via pivot columns
      val ratio = tf.filter(col("term").isin(qterms: _*))
        .join(dl, "doc_id").join(dfreq, "term")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("term"),
          ((lit(44L) * col("tf") * col("totdl") *
            (lit(2L) * col("n_docs") - lit(2L) * col("df_") + lit(1L)))
            .cast("double") /
            ((lit(2L) * col("df_") + lit(1L)) *
              (lit(20L) * col("totdl") * col("tf") +
                lit(6L) * col("totdl") +
                lit(18L) * col("dl") * col("n_docs"))).cast("double"))
            .as("r"))
      val pivCols = qterms.map(t =>
        coalesce(max(when(col("term") === t, col("r"))), lit(0.0))
          .as(s"r_$t"))
      val scoreA = ratio.groupBy(col("doc_id"))
        .agg(pivCols.head, pivCols.tail: _*)
        .select(col("doc_id"),
          qterms.map(t => col(s"r_$t")).reduceLeft(_ + _).as("score"))
      val rankA = Relational.topKPerGroup(
        scoreA.filter(col("score") > 0), Seq(),
        Seq(col("score").desc, col("doc_id")), 100, "ra")
        .select(col("doc_id"), col("ra"))
      // ranking B: integer tf-idf weights over the top-32 dictionary
      // (the q152 weight form), cosine = dot / sqrt(den_d·den_q)
      val nD = docs.agg(count(lit(1)).cast("long").as("n"))
      val w = graft.Checkpoints.checkpoint(
        tf.join(broadcast(dict), "term").crossJoin(broadcast(nD))
          .select(col("doc_id"), col("term"),
            call_function("div", col("tf") * col("n") * lit(10L),
              col("df_")).as("w")))
      val denD = w.groupBy(col("doc_id"))
        .agg(sum(col("w") * col("w")).as("den_d"))
      val qv = dict.crossJoin(broadcast(nD))
        .filter(col("term").isin(qterms: _*))
        .select(col("term"),
          call_function("div", col("n") * lit(10L), col("df_")).as("wq"))
      val denQ = qv.agg(sum(col("wq") * col("wq")).as("den_q"))
      val dot = w.join(broadcast(qv), "term")
        .groupBy(col("doc_id")).agg(sum(col("w") * col("wq")).as("dot"))
      val cos = dot.filter(col("dot") > 0).join(denD, "doc_id")
        .crossJoin(broadcast(denQ))
        .select(col("doc_id"), (col("dot").cast("double") /
          sqrt(col("den_d").cast("double") * col("den_q").cast("double")))
          .as("cos"))
      val rankB = Relational.topKPerGroup(cos, Seq(),
        Seq(col("cos").desc, col("doc_id")), 100, "rb")
        .select(col("doc_id"), col("rb"))
      val fused = rankA.join(rankB, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("ra"), col("rb"),
          (coalesce(call_function("div", lit(1000000L),
              lit(60L) + col("ra")), lit(0L)) +
            coalesce(call_function("div", lit(1000000L),
              lit(60L) + col("rb")), lit(0L))).as("rrf"))
      Relational.topKPerGroup(fused, Seq(),
        Seq(col("rrf").desc, col("doc_id")), 10, "rank")
    },

    // Content-defined chunking dedup (Dedup.cdcChunks scaladoc): the
    // insertion-robust chunk modality — boundaries are cut by the
    // content's own window hash, so dup chunks group across documents
    // whose shared text sits at DIFFERENT offsets. The boundary
    // decision replays in the oracle (portable polynomial hash, q23
    // discipline), so the gate covers chunking, not just grouping.
    "q166_cdc_chunks" -> { (s, d) =>
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
        meanChunk = 16, minReport = 4)
    },

    // Entity resolution END-TO-END under the hash gate: near-dup pair
    // generation (PPJoin, q25 semantics at jaccard >= 0.8) → O(log n)
    // star-contraction components → canonical assignment + group size.
    // Every doc appears (singletons are their own canonical). Oracle =
    // naive pair SQL + recursive-CTE components — the whole
    // resolveEntities dataflow must agree, not just the pair list.
    "q93_entity_resolution" -> { (s, d) =>
      val assign = Dedup.resolveEntities(Tables.documents(s, d),
        "doc_id", "text", minJaccard = 0.8, starComponents = true)
      // group size as a WINDOW count over canonical_id: one exchange on
      // the grouping key, where the old groupBy + join-back shape both
      // shuffled twice AND executed the whole (un-checkpointed) assign
      // subtree twice — once under the sizes aggregate, once as the
      // join's probe side (guide §2.4; the exchanges were not reusable
      // because the aggregate's partial-agg child schema differs)
      assign.select(col("doc_id"), col("canonical_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("canonical_id"))).as("n_members"))
    },

    "q22_lang_id" -> { (s, d) =>
      val w = TextFns.words(TextFns.norm(col("text")))
      Tables.documents(s, d)
        .select(col("lang"), TextFns.langId(w).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // Rolling polynomial fingerprint (engine-portable content hash).
    "q23_fingerprint" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFns.rollingFingerprint(TextFns.norm(col("text"))).as("fp"))
    },

    // Near-exact dedup on normalized 80-char prefix.
    "q24_dedup_prefix" -> { (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text", 80)
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
    },

    // Exact n-gram Jaccard near-dup pairs via inverted-index join.
    "q25_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.4)
    },

    // ASYMMETRIC containment pairs (|S(A)∩S(B)| / |S(A)| ≥ 0.7) — the
    // quote/subset detector symmetric Jaccard is blind to; candidate
    // generation is the containment form of the prefix rule (probe =
    // rarest sz−⌈τ·sz⌉+1 shingles, container side fully indexed),
    // verify exact integer. Oracle = the full O(shared-shingle) exact
    // relation, so the prefix pruning itself is proven complete.
    "q203_containment_pairs" -> { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text", 3)
    },

    // Inverted-index construction (the reference stores abstracts AS
    // inverted indexes, `PaperAbstractsInvertedIndex.txt`; SURVEY.md
    // §2.11): per-word document-frequency + sorted posting list.
    "q54_inverted_index" -> { (s, d) =>
      val postings = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFns.words(TextFns.norm(col("text")))).as("word"))
        .distinct()
      postings.groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("posting_list"))
    },

    // Benchmark decontamination — the training-data op of checking a
    // corpus against an eval set: documents sharing any 5-gram with the
    // benchmark subset (doc_id % 50 == 0), with the shared-shingle
    // count. The benchmark shingle set is small → broadcast semi-shape
    // join; the corpus side streams through one shuffle-free probe.
    "q65_decontamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpusSh = Dedup.docShingles(
        docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", 5)
      val benchSh = Dedup.docShingles(
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 5)
        .select(col("sh")).distinct()
      corpusSh.join(broadcast(benchSh), "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
    },

    // TF-IDF term ranking (ratio form): top-3 characteristic terms per
    // document by tf · N / df. The log-free weight keeps oracle parity
    // exact — tf, N, df are integers and one IEEE division of integers
    // is bit-identical on both engines, where ln() differs by libm and
    // round(quotient) flips cents (the repo's float-parity rule). The
    // raw double is emitted unrounded for the same reason.
    "q66_tfidf_topterms" -> { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFns.words(TextFns.norm(col("text")))).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df_"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df_, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          ((col("tf") * col("n_docs")).cast("double") /
            col("df_").cast("double")).as("score"))
      graft.operators.Relational.topKPerGroup(scored,
        Seq(col("doc_id")), Seq(col("score").desc, col("word")), 3)
    },

    // Edit-distance PRIMITIVE demo (author-disambiguation building
    // block, reference archive/links.md): levenshtein is built-in on
    // both engines. The consecutive-key join (k2 = k1 + 1) exists only
    // to give the oracle a deterministic, linear-sized pair set — it
    // is NOT a usable blocking scheme (it inspects one arbitrary pair
    // per key; don't copy it). The real scheme — normalized-key
    // blocking → candidate pairs → verify → connected components →
    // survivor — is Dedup.resolveEntities, tested in DedupSpec.
    // REAL blocked name matching (entity-resolution shape): block on a
    // shared name prefix, equi-join WITHIN blocks only, then verify
    // each candidate pair with levenshtein <= 2. The fixture names are
    // uniform "Customer#NNNNNNNNN", so the honest block key is the
    // prefix through the 7th digit (16 chars) — blocks of <= 100
    // members; first-token or length blocking would degenerate to ONE
    // all-pairs block here, the exact failure blocking exists to
    // avoid. Verify threshold 1, not 2: with the last two digits free
    // inside a block every pair sits at distance <= 2, so a <= 2 cut
    // would reject nothing — at <= 1 the verify step does real work
    // (900 of 4950 candidate pairs survive per full block).
    // Cross-block near-matches are missed BY DESIGN — that recall
    // trade is what blocking means, and the oracle replays the same
    // block key, so the contract is exact.
    "q49_name_edit_distance" -> { (s, d) =>
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"),
          substring(col("c_name"), 1, 16).as("blk"))
      // spread the probe side: with the build side broadcast, the
      // join + levenshtein verify otherwise runs in the scan's one
      // input split (2.8 s of 1-task stage wall; operators.Spread)
      val a = graft.operators.Spread.byKey(
        c.select(col("c_custkey").as("k1"), col("c_name").as("n1"),
          col("blk")), col("k1"))
      val b = c.select(col("c_custkey").as("k2"), col("c_name").as("n2"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          levenshtein(col("n1"), col("n2")).cast("long").as("dist"))
        .filter(col("dist") <= 1)
    },

    // Sorted-neighborhood blocking (merge-purge) on the q49 substrate
    // — the SORT-based blocking family member: global (name, id) rank
    // via the range-partitioned two-phase prefix sum, candidates =
    // records within 5 rank positions, same levenshtein <= 1 verify.
    // Complementary recall trade to q49's prefix blocks: window pairs
    // never blow up on a hot prefix, but miss pairs sorting far
    // apart. Oracle replays the rank with a window function.
    "q111_sorted_neighborhood" -> { (s, d) =>
      Dedup.sortedNeighborhoodPairs(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", window = 5)
        .select(least(col("id_a"), col("id_b")).as("k1"),
          greatest(col("id_a"), col("id_b")).as("k2"),
          levenshtein(col("key_a"), col("key_b")).cast("long").as("dist"))
        .filter(col("dist") <= 1)
    },

    // The reference STORES abstracts as JSON inverted indexes
    // (`PaperAbstractsInvertedIndex.txt`: {"IndexLength":N,
    // "InvertedIndex":{word:[positions]}}). Round-trip that exact
    // format through real JSON codecs: build the index, serialize with
    // to_json, parse back with from_json(map<string,array<int>>), and
    // decode summary stats — which the oracle computes directly from
    // the text, so any unfaithfulness in the round-trip mismatches.
    "q59_invindex_roundtrip" -> { (s, d) =>
      val js = invertedIndexJson(Tables.documents(s, d))
      val parsed = js.select(col("doc_id"), from_json(col("js"),
        org.apache.spark.sql.types.DataType.fromDDL(
          "struct<IndexLength:int, InvertedIndex:map<string,array<int>>>"))
        .as("doc"))
      parsed
        .select(col("doc_id"), col("doc.IndexLength").as("index_length"),
          explode(map_entries(col("doc.InvertedIndex"))).as("entry"))
        .groupBy(col("doc_id"))
        .agg(first(col("index_length")).cast("long").as("index_length"),
          count(lit(1)).as("n_terms"),
          sum(size(col("entry.value"))).cast("long").as("n_positions"))
    },

    // The reference's 18th (and last) sample relation through the
    // DECLARED catalog: PaperAbstractsInvertedIndex.txt ingested as a
    // quote-free (paper_id, json) TSV via MagTables (day-one shape for
    // a real MAG dump), decoded with from_json, the abstract TEXT
    // reconstructed order-faithfully from the position lists (pinned
    // by the cross-engine polynomial fingerprint — any position or
    // ordering slip mismatches), and the decoded postings fed straight
    // into TF-IDF (top term per paper, exact-integer lift, q250
    // discipline). The oracle re-reads the SAME TSV and replays the
    // whole chain with DuckDB's native JSON codecs.
    "q263_abstract_invindex" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pai = graft.schema.MagTables
        .paperAbstractsInvertedIndex(s, abstractsDir(s, d))
      // checkpointed: four consumers (reconstruction, n_docs, df, tf)
      // read the decoded postings — without the pin each would re-run
      // the JSON parse + explode over the whole corpus
      val ent = graft.Checkpoints.checkpoint(pai
        .select(col("paper"), from_json(col("indexedAbstract"),
          org.apache.spark.sql.types.DataType.fromDDL(
            "struct<IndexLength:int, InvertedIndex:map<string,array<int>>>"))
          .as("doc"))
        .select(col("paper"), col("doc.IndexLength").cast("long")
          .as("index_length"),
          explode(map_entries(col("doc.InvertedIndex"))).as("e"))
        .select(col("paper"), col("index_length"),
          col("e.key").as("word"), col("e.value").as("positions")))
      // abstract reconstruction: positions partition [0, IndexLength),
      // so sorting (pos, word) and joining on spaces is exact inverse
      val rec = ent
        .select(col("paper"), col("word"),
          explode(col("positions")).as("pos"))
        .groupBy(col("paper"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          t => t.getField("word"))).as("abs_text"))
        .select(col("paper"),
          TextFns.polyHash(col("abs_text")).as("abstract_fp"))
      // TF-IDF from the decoded postings: tf = |positions|, df over
      // papers, length-normalized integer lift (all-positive div)
      val nDocs = ent.select(countDistinct(col("paper")).as("n_docs"))
      val dfw = ent.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val scored = ent
        .select(col("paper"), col("index_length"), col("word"),
          size(col("positions")).cast("long").as("tf"))
        .join(dfw, Seq("word"))
        .join(broadcast(nDocs))
        .select(col("paper"), col("index_length"), col("word"), col("tf"),
          expr("(tf * n_docs * 10000) div (index_length * df)")
            .as("score_x10k"))
      val top = scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("paper"))
          .orderBy(col("score_x10k").desc, col("word").asc)))
        .filter(col("rn") === 1)
        .select(col("paper"), col("word").as("top_word"),
          col("score_x10k").as("tfidf_x10k"))
      scored.groupBy(col("paper"))
        .agg(min(col("index_length")).as("index_length"),
          count(lit(1)).as("n_terms"),
          sum(col("tf")).as("n_positions"))
        .join(rec, Seq("paper"))
        .join(top, Seq("paper"))
    },

    // MinHash + LSH banding candidate pairs. Oracle-checked: shingle
    // keys, affine permutations, and band folds are all exact int64
    // arithmetic with literal constants, replayed verbatim by the
    // generated DuckDB SQL below.
    "q26_minhash_lsh" -> { (s, d) =>
      Dedup.lshCandidates(
        Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text"),
        "doc_id")
    },

    // INCREMENTAL near-dup admission against the PERSISTED minhash
    // index (Dedup.buildMinhashIndex / incrementalNearDup) — the
    // production ingestion shape: a derived increment (1/14 exact
    // copies, 1/21 reversed novel docs, the rest drop-last-word
    // near-dups, ids offset by 10^6) is signed and checked against
    // the corpus' band + signature tables; corpus text is never
    // rescanned. Per batch doc: best corpus match + is_dup verdict
    // at 16/32 agreeing slots.
    "q192_incremental_neardup" -> { (s, d) =>
      Dedup.incrementalNearDup(s, minhashIndexDir(s, d),
        incrementBatch(s, d), "doc_id", "text")
    },

    // QUANTILE NORMALIZATION across sources — the cross-corpus score
    // calibration a mixing pipeline needs before comparing documents
    // from different crawls (source A's length distribution mapped
    // onto the GLOBAL one): each doc's within-source nearest rank is
    // re-read at the equivalent global rank, tr = ceil(r·N/n_s) in
    // EXACT integer ceil arithmetic ((r·N + n_s − 1) div n_s — no
    // double ceil to overshoot). Both rankings ride the two-phase
    // global rank with broadcast source offsets (the q117/q146
    // discipline — a handful of huge sources never serialize through
    // per-source window tasks).
    "q184_quantile_normalize" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val bySrc = graft.Checkpoints.checkpoint(
        Relational.globalCumsum(docs,
          Seq(col("source"), col("n_chars"), col("doc_id")),
          lit(1L), "gr"))
      val offs = bySrc.groupBy(col("source").as("_s"))
        .agg(min(col("gr")).as("off"), count(lit(1)).as("n_s"))
      val withR = bySrc.join(broadcast(offs), col("source") === col("_s"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("gr") - col("off") + 1L).as("r"), col("n_s"))
      val spine = graft.Checkpoints.checkpoint(
        Relational.globalCumsum(
          docs.select(col("n_chars").as("v"), col("doc_id").as("did")),
          Seq(col("v"), col("did")), lit(1L), "rr"))
      val nTot = spine.agg(count(lit(1)).as("n_tot"))
      withR.crossJoin(broadcast(nTot))
        .withColumn("tr", call_function("div",
          col("r") * col("n_tot") + col("n_s") - 1, col("n_s")))
        .join(spine.select(col("rr").as("tr"), col("v").as("norm_score")),
          "tr")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_score"))
    },

    // Tokenizer FERTILITY by (source, language) — subword tokens per
    // whitespace word, the tokenizer-efficiency metric a multilingual
    // pipeline tracks (high fertility = the merge table underserves
    // that language; grounding: the per-language paper mix in the
    // reference's PaperLanguages sample): exact integer token/word
    // sums through q118's BPE replace chain + one rounded division.
    "q185_tokenizer_fertility" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(TextFns.words(TextFns.norm(col("text"))))
            .cast("long").as("nw"),
          graft.functions.Bpe.tokenCount(col("text")).as("nt"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("sum_words"),
          sum(col("nt")).as("sum_subwords"))
        .withColumn("fertility", round(
          col("sum_subwords").cast("double") /
            col("sum_words").cast("double"), 4))
    },

    // SKETCH CALIBRATION — the estimator-evaluation table an engine
    // needs before TRUSTING a sketch at scale: for every q26 LSH
    // candidate pair, the integer signature-agreement level (matches
    // of 32 — the minhash Jaccard estimator's numerator) against the
    // EXACT 3-gram Jaccard (computed only for the candidate pairs —
    // bounded by the LSH output, never all-pairs), aggregated per
    // agreement level as exact scaled-int moments (round(j·10⁴)
    // summed). A drifting calibration row is the signal the banding
    // thresholds (q108's 16-of-32) need retuning.
    "q182_sketch_calibration" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val sigs = graft.Checkpoints.checkpoint(
        Dedup.minhashSignatures(docs, "doc_id", "text"))
      val cands = graft.Checkpoints.checkpoint(
        Dedup.lshCandidates(sigs, "doc_id"))
      val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val withM = cands.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"),
          aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), _ + _).as("matches"))
      val sh = graft.Checkpoints.checkpoint(
        Dedup.docShingles(docs, "doc_id", "text", 3))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val co = cands
        .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh")),
          Seq("id_b", "sh"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("co"))
      withM
        .join(sz.select(col("doc_id").as("id_a"), col("n_sh").as("sa")),
          "id_a")
        .join(sz.select(col("doc_id").as("id_b"), col("n_sh").as("sb")),
          "id_b")
        .join(co, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("co"))
        .select(col("matches"),
          round(col("co").cast("double") /
            (col("sa") + col("sb") - col("co")) * 10000, 0)
            .cast("long").as("jx10k"))
        .groupBy(col("matches"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jx10k")).as("sum_j_x10k"),
          min(col("jx10k")).as("min_j_x10k"),
          max(col("jx10k")).as("max_j_x10k"))
    },

    // SimHash per document (60 portable bits in a long) — oracle-
    // checked via the generated double-polynomial word-hash twin.
    "q27_simhash" -> { (s, d) =>
      Dedup.simhash64(Tables.documents(s, d), "doc_id", "text")
    },

    // Multimodal decode plumbing under the driver gate: binary media
    // payloads (deterministic ASCII bytes derived from doc_id) through
    // the typed mapPartitions decode pass; the STUB probe's arithmetic
    // is byte-deterministic, so DuckDB can replay it from the same
    // constructed string — the oracle checks the whole binary-column /
    // Dataset[Media] / per-partition-codec dataflow, not the fake
    // codec itself.
    "q63_media_decode" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          lit("text/plain").as("media_type"),
          concat(col("doc_id").cast("string"), lit("xyz"))
            .cast("binary").as("content"))
        .as[graft.operators.Multimodal.Media]
      graft.operators.Multimodal.decode(media).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    },

    // SimHash near-dup pairs via 16-bit band buckets — pigeonhole-exact
    // for hamming <= 3; oracle-checked (portable signatures), and
    // DedupSpec asserts banding ≡ brute force.
    "q60_simhash_neardup" -> { (s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 3)
    },

    // REAL audio decode under the oracle gate — strictly stronger than
    // q63's stub check: each row synthesizes genuine WAV container
    // bytes from its doc_id (Multimodal.synthWav, JDK encoder), the
    // REAL javax.sound.sampled codec parses them back in the
    // per-partition decode pass, and the oracle predicts the recovered
    // sample rate / channels / frame count arithmetically. A codec that
    // mis-parses the container (or a broken binary-column round trip)
    // hash-mismatches.
    "q80_audio_decode" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => graft.operators.Multimodal.Media(
          id, "audio/wav",
          graft.operators.Multimodal.synthWav(8000f, (100 + id % 400).toInt))))
      graft.operators.Multimodal.decodeAudio(media).toDF()
        .filter(col("ok"))
        .select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"))
    },

    // REAL video-container decode under the oracle gate — the q80 move
    // repeated for video: each row hand-assembles a genuine
    // uncompressed RIFF/AVI container from its doc_id
    // (Multimodal.synthAvi), the pure-JDK chunk walker
    // (Multimodal.aviProbe) parses it back in the per-partition decode
    // pass — validating magic, header dims, and COUNTING the actual
    // movi frame chunks against the declared total — and the oracle
    // predicts the recovered metadata arithmetically. doc_id >= 0
    // guard: % semantics, the q82/q86 hash contract.
    "q100_video_decode" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") >= 0).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => graft.operators.Multimodal.Media(
          id, "video/avi",
          graft.operators.Multimodal.synthAvi(
            (8 + (id % 4) * 4).toInt, (6 + (id % 3) * 2).toInt,
            (1 + id % 5).toInt))))
      graft.operators.Multimodal.decode(
          media, graft.operators.Multimodal.aviProbe).toDF()
        .filter(col("ok"))
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    },

    // REAL COMPRESSED-video decode under the oracle gate — one step
    // past q100's container walk: each row synthesizes an MJPEG AVI
    // (real JPEG bytes per frame chunk, frame f uniform gray at
    // (id%251 + 17f) mod 256), the JDK's actual JPEG codec decodes
    // EVERY frame in the per-partition pass, and pix_sum sums EVERY
    // decoded pixel sample. At quality 1.0 uniform-gray JPEG
    // round-trips exactly (MultimodalSpec pins all 256 values), so the
    // oracle predicts the decoded pixel sum arithmetically — a codec
    // that doesn't really decode pixels cannot fake it.
    // Banded near-dup DROP decision — the batch twin of the STREAMING
    // LSH dedup (EventStreams.bandedNearDup): LSH candidate pairs
    // filtered to signature agreement >= 16/32 slots (est_jaccard >=
    // 0.5 — exact: n/32 is dyadic), grouped per dropped doc to its
    // min-id canonical. StreamingSpec asserts the stream's distinct
    // (doc_id, dup_of) set equals this query's pre-grouping pair set.
    "q108_banded_neardup_drop" -> { (s, d) =>
      val sigs = Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text")
      val cand = Dedup.lshCandidates(sigs, "doc_id")
      Dedup.minhashEstimate(cand, sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
        .groupBy(col("id_b").as("doc_id"))
        .agg(min(col("id_a")).as("dup_of"),
          count(lit(1)).as("n_dup_sources"))
    },

    // Per-FRAME video embeddings — the full video → embedding pipeline
    // under the gate: MJPEG frames REALLY decoded by the JDK JPEG
    // codec, per-frame 16-bin luminance histogram at the (media,
    // frame) grain. Frames are uniform gray, so each histogram is
    // EXACTLY one-hot at bin value//16; the output flattens the
    // nonzero bins (driver-hash convention: arrays become scalar
    // columns, the q13 move) so the oracle predicts (bin, weight)
    // arithmetically — a feature extractor that didn't really decode
    // pixels can't reproduce it.
    "q112_video_frame_embeddings" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") >= 0).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => graft.operators.Multimodal.Media(
          id, "video/x-msvideo",
          graft.operators.Multimodal.synthMjpegAvi(
            (8 + (id % 4) * 4).toInt, (6 + (id % 3) * 2).toInt,
            (1 + id % 5).toInt, (id % 251).toInt))))
      graft.operators.Multimodal.videoFrameFeatures(media)
        .select(col("media_id"), col("frame_idx"),
          posexplode(col("embedding")))
        .filter(col("col") > 0d)
        .select(col("media_id"), col("frame_idx"),
          col("pos").cast("long").as("bin"), col("col").as("weight"))
    },

    "q106_mjpeg_decode" -> { (s, d) =>
      import s.implicits._
      // spread before the synth+decode mapPartitions — single-split
      // scan otherwise runs it one task wide (operators.Spread)
      val media = graft.operators.Spread.byKey(
          Tables.documents(s, d)
            .filter(col("doc_id") >= 0).select(col("doc_id")),
          col("doc_id")).as[Long]
        .mapPartitions(_.map(id => graft.operators.Multimodal.Media(
          id, "video/x-msvideo",
          graft.operators.Multimodal.synthMjpegAvi(
            (8 + (id % 4) * 4).toInt, (6 + (id % 3) * 2).toInt,
            (1 + id % 5).toInt, (id % 251).toInt))))
      graft.operators.Multimodal.decodeVideo(media).toDF()
        .filter(col("ok"))
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("pix_sum"))
    },

    // SUBWORD (BPE) token counting + budget fill — q76's budget step
    // denominated in the tokens a model actually consumes, not
    // whitespace words (graft.functions.Bpe: a fixed merge table
    // applied as a codegen'd replace chain, replayed mechanically by
    // the oracle). Docs are taken in doc_id order until the running
    // subword total reaches half the corpus; the running total is the
    // range-partitioned two-phase prefix sum (never a global window),
    // and the corpus total arrives as a 1-row broadcast scalar
    // (registered intended NLJ).
    "q118_bpe_budget" -> { (s, d) =>
      // spread + checkpoint: the BPE chain otherwise runs in the
      // scan's one input split, TWICE (ranked feeds both the total
      // scalar and the output — 2 × ~0.75 s of 1-task wall measured)
      val docs = graft.Checkpoints.checkpoint(
        graft.operators.Spread.byKey(
            Tables.documents(s, d).filter(col("doc_id") >= 0)
              .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenCount(col("text")).as("n_tokens")))
      val ranked = graft.operators.Relational.globalCumsum(
        docs, Seq(col("doc_id")), col("n_tokens"), "cum_tokens")
      val total = ranked.agg(max(col("cum_tokens")).as("total"))
      ranked.crossJoin(broadcast(total))
        .filter(col("cum_tokens") * 2 <= col("total"))
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
    },

    // BPE merge-table LEARNING — q118 applies a fixed table; this
    // learns one from the corpus (Bpe.learnMerges: 12 rounds of
    // corpus-wide pair counting + leftmost-first merge, deterministic
    // lexicographic tie-break), then reports per-source subword totals
    // under the LEARNED table. Oracle: Verify recomputes the learning
    // (bit-reproducible — exact long counts) and replays the learned
    // table as literals through the same replace chain (the q51
    // literal-replay discipline); BpeSpec pins the learning loop
    // against a pure-Scala reference implementation.
    "q132_bpe_learned" -> { (s, d) =>
      // spread: the learning rounds and the final tokenCountWith both
      // scan the corpus — single-split otherwise (operators.Spread)
      val docs = graft.operators.Spread.byKey(
        Tables.documents(s, d).filter(col("doc_id") >= 0), col("doc_id"))
      val learned = graft.functions.Bpe.learnMerges(docs, col("text"), 12)
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.Bpe.tokenCountWith(col("text"), learned))
            .as("tokens"))
    },

    // CURATION FUNNEL — the quality pipeline composed end-to-end with
    // per-stage survivor counts, the report a training-data run reads
    // first: language gate (q22's classifier) → quality floor (q21's
    // score ≥ 0.3) → repetition cut (q77's top-word ratio ≤ 0.12) →
    // exact-dedup canonical keeper (q24's grain). Stages apply as
    // PROGRESSIVE conjunctions so each count is "survivors so far",
    // and every per-doc signal is the same rounded expression its
    // standalone query oracles — the funnel cannot drift from the
    // parts. One row out; all counts integer.
    "q128_curation_funnel" -> { (s, d) =>
      val n = TextFns.norm(col("text"))
      val w = TextFns.words(n)
      val nw = size(w).cast("long")
      val base = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"),
          TextFns.langId(w).as("pred_lang"),
          qualityCol(nw, stopRatioCol(w, nw)).as("quality"),
          substring(n, 1, 80).as("dup_key"))
      val twr = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), explode(w).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(round(max(col("c")).cast("double") / sum(col("c")), 4)
          .as("twr"))
      val keeper = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dup_key"))
      val c1 = col("pred_lang") === "en"
      val c2 = c1 && col("quality") >= 0.3
      val c3 = c2 && col("twr") <= 0.12
      val c4 = c3 && col("is_keep")
      base.withColumn("is_keep",
          min(col("doc_id")).over(keeper) === col("doc_id"))
        .join(twr, "doc_id")
        .agg(count(lit(1)).as("n_total"),
          sum(when(c1, 1L).otherwise(0L)).as("n_lang"),
          sum(when(c2, 1L).otherwise(0L)).as("n_quality"),
          sum(when(c3, 1L).otherwise(0L)).as("n_derep"),
          sum(when(c4, 1L).otherwise(0L)).as("n_final"))
    },

    // TRAINING-MIX sampler — deterministic mixture-weighted selection
    // across sources: each source s gets a target share w_s/Σw of the
    // output budget (w_s derived arithmetically from the source name so
    // both engines compute the same weights), and its quota fills in
    // LCG-hash order of doc_id — the engine-wide deterministic sample
    // order (q67/q36), so the mix is reproducible run-to-run and
    // engine-to-engine, unlike rand()-based mixture sampling. Budget =
    // half the corpus, a 1-row broadcast scalar (registered intended
    // NLJ, q42 shape). The per-source rank is a window over ~uniform
    // source partitions; a skewed 100 TB source histogram would route
    // it through the two-phase grouped rank instead (the q117 note).
    "q124_mixture_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"),
          (substring(col("source"), 4, 10).cast("long") % 4 + 1).as("w"))
      val budget = docs
        .agg(call_function("div", count(lit(1)), lit(2L)).as("s_target"))
        .crossJoin(broadcast(docs.select(col("source"), col("w")).distinct()
          .agg(sum(col("w")).as("w_total"))))
      val rn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(lcgHash(col("doc_id")), col("doc_id"))
      docs.withColumn("rn", row_number().over(rn).cast("long"))
        .crossJoin(broadcast(budget))
        .filter(col("rn") <=
          call_function("div", col("s_target") * col("w"), col("w_total")))
        .select(col("doc_id"), col("source"), col("rn"))
    },

    // TOKEN-budget mixture — q124's source allocation denominated in
    // the tokens a model actually consumes (q118's BPE counts): each
    // source's share of the half-corpus TOKEN budget fills in LCG-hash
    // doc order, with the keep decision as an exact integer
    // cross-multiply (cum·2·Σw ≤ total·w_s — a double ratio would flip
    // boundary docs between engines). The per-source running total is
    // a window over ~uniform source partitions (the q117/q124 note
    // applies at a skewed 100 TB histogram).
    "q126_token_mixture" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"),
          (substring(col("source"), 4, 10).cast("long") % 4 + 1).as("w"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint() // consumers: cumsum, token total, weight total
      val scalars = docs.agg(sum(col("n_tokens")).as("total_tokens"))
        .crossJoin(broadcast(docs.select(col("source"), col("w")).distinct()
          .agg(sum(col("w")).as("w_total"))))
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(lcgHash(col("doc_id")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs.withColumn("cum_tokens", sum(col("n_tokens")).over(byHash))
        .crossJoin(broadcast(scalars))
        .filter(col("cum_tokens") * 2 * col("w_total") <=
          col("total_tokens") * col("w"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
    },

    // TEMPERATURE-flattened mixture (α = 1/2) — q126's budget fill
    // with weights DERIVED from the data instead of configured:
    // w_s = isqrt(source's token mass), the multilingual-sampling
    // flattening (sampling ∝ n^α, α < 1 — mBERT/XLM/mT5's exponent
    // move, public) that keeps big sources from drowning small ones:
    // per-source keep FRACTION ∝ 1/√n_s. The α-power stays exact
    // integer via Relational.isqrt (IEEE sqrt + ±1 int correction), so
    // the whole plan — weights, totals, hash order, cross-multiplied
    // cut — replays in the oracle with zero float risk.
    "q155_temperature_mixture" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("source"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint() // consumers: weights, totals, cumsum
      val srcW = docs.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("src_tokens"))
        .select(col("source"),
          graft.operators.Relational.isqrt(col("src_tokens")).as("w"))
      val scalars = docs.agg(sum(col("n_tokens")).as("total_tokens"))
        .crossJoin(broadcast(srcW.agg(sum(col("w")).as("w_total"))))
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(lcgHash(col("doc_id")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs.withColumn("cum_tokens", sum(col("n_tokens")).over(byHash))
        .join(broadcast(srcW), "source")
        .crossJoin(broadcast(scalars))
        .filter(col("cum_tokens") * 2 * col("w_total") <=
          col("total_tokens") * col("w"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), col("w"))
    },

    // PER-LANGUAGE token budgeting — q126's budget-fill arithmetic
    // denominated per predicted LANGUAGE (q22's langId) instead of
    // per source: real mixtures budget by language (the reference
    // keeps per-paper language labels, `data/samples/
    // PaperLanguages.txt`). Configured weights en:4 de:3 fr:2 es:1,
    // half the corpus token total split pro-rata, each language
    // filled in deterministic lcg-shuffled order. Unlike q126's
    // per-source window (many ~uniform sources), a LANGUAGE histogram
    // has a handful of huge groups — a partitionBy(lang) window would
    // serialize each language through one task — so the running total
    // rides the range-partitioned two-phase rank (the q117
    // discipline): ONE global cumsum ordered (lang, h, doc), then
    // per-language totals as cum − offset, where each language's
    // offset = min(cum − n_tokens) over the group (its first row's
    // prefix). Oracle replays the composed gate (stopword-score CASE)
    // + the same arithmetic as a per-language window; ChunkPlanSpec
    // ties the kept per-language totals to q139's packed sequences.
    "q146_language_mixture" -> { (s, d) =>
      val words = TextFns.words(TextFns.norm(col("text")))
      // spread ahead of langId + BPE — single-split scan otherwise
      // runs both in one task (1.05 s measured; operators.Spread)
      val docs = graft.operators.Spread.byKey(
          Tables.documents(s, d).filter(col("doc_id") >= 0)
            .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), TextFns.langId(words).as("lang_pred"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_tokens"))
        .withColumn("w", when(col("lang_pred") === "en", 4L)
          .when(col("lang_pred") === "de", 3L)
          .when(col("lang_pred") === "fr", 2L)
          .otherwise(1L))
        .localCheckpoint() // consumers: rank (sampled twice), totals
      val scalars = docs.agg(sum(col("n_tokens")).as("total_tokens"))
        .crossJoin(broadcast(docs.select(col("lang_pred"), col("w")).distinct()
          .agg(sum(col("w")).as("w_total"))))
      val ranked = graft.Checkpoints.checkpoint(
        graft.operators.Relational.globalCumsum(docs,
          Seq(col("lang_pred"), lcgHash(col("doc_id")), col("doc_id")),
          col("n_tokens"), "cum"))
      val offs = ranked.groupBy(col("lang_pred").as("lp"))
        .agg(min(col("cum") - col("n_tokens")).as("off"))
      ranked.join(broadcast(offs), col("lang_pred") === col("lp"))
        .withColumn("cum_tokens", col("cum") - col("off"))
        .crossJoin(broadcast(scalars))
        .filter(col("cum_tokens") * 2 * col("w_total") <=
          col("total_tokens") * col("w"))
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("cum_tokens"))
    },

    // TERM-WEIGHTED document near-dup: Dedup.tfidfVectors (integer
    // ratio-form tf·idf over the top-32 dictionary) composed with the
    // vector family's exact cosinePairs — the cosine complement of
    // q25's set-based n-gram Jaccard. Oracle replays vectorization
    // (dictionary rank, integer weights, dense zero-filled lists) and
    // the rounded list-cosine. At scale the same vectors feed the
    // LSH/IVF/projected candidate paths instead of the exact join.
    "q152_tfidf_neardup" -> { (s, d) =>
      // checkpoint: the pair self-join reads the vectors on BOTH
      // sides — without it the whole vectorization pipeline (tokens →
      // tf → dictionary → weights → dense maps) evaluates twice.
      // The repartition matters as much as the checkpoint, for TWO
      // reasons (measured 11 s → 3.4 s at sf0.1): it rewrites the
      // map/transform-built BOXED arrays as UnsafeRow primitive
      // arrays (ArrayCosine's fast path over 12.5M pairs), and the
      // EXPLICIT partition count keeps AQE from coalescing the tiny
      // vector relation to one partition — which would serialize the
      // whole nested-loop pair scan through a single core.
      val vecs = graft.Checkpoints.checkpoint(
        Dedup.tfidfVectors(Tables.documents(s, d), "doc_id", "text")
          .repartition(8, col("doc_id")))
      graft.operators.Similarity.cosinePairs(vecs, "doc_id", "tfidf", 0.9)
    },

    // The APPLY step of q144: per duplicated shingle the globally
    // minimal (doc, pos) occurrence is canonical; every other
    // occurrence's covered tokens merge into per-doc CUT intervals
    // (Dedup.duplicateSpanCuts). Applying the cuts leaves exactly one
    // occurrence of every duplicated span in the corpus.
    "q150_span_cuts" -> { (s, d) =>
      Dedup.duplicateSpanCuts(Tables.documents(s, d), "doc_id", "text", 8)
    },

    // LM-based quality scoring (Quality.bigramLmScore): the
    // CCNet-family perplexity-filter modality as a self-trained
    // corpus bigram model in exact integer arithmetic — per doc, the
    // mean scaled conditional probability of its bigrams under the
    // corpus' own statistics. Complements the heuristic
    // ratio/repetition signals (q21/q77) with the distributional one.
    "q148_lm_quality" -> { (s, d) =>
      graft.operators.Quality.bigramLmScore(
        Tables.documents(s, d), "doc_id", "text")
    },

    // Order-3 LM with stupid backoff (Quality.trigramLmScore): the
    // perplexity filter at the n-gram order real curation filters
    // use — trigram conditionals with the +1 discount, unreliable
    // contexts (c12 < 2) backing off to 2/5 of the bigram estimate.
    // Catches bigram-preserving reshuffles that q148 scores
    // identically (QualitySpec pins the separation).
    "q189_lm3_quality" -> { (s, d) =>
      graft.operators.Quality.trigramLmScore(
        Tables.documents(s, d), "doc_id", "text")
    },

    // COUNT-MIN frequency sketch (Sketches.countMinCells/Estimates)
    // over corpus word bigrams — frequency tracking whose state is a
    // 3×256 counter matrix however large the vocabulary grows.
    // Counters are additive, so the merge is summation (deterministic
    // under any shuffle order) and the ENTIRE sketch replays in SQL:
    // the oracle recomputes every cell and every estimate with the
    // same PolyHash arithmetic and hash-matches est_cnt, not just a
    // bound. Output: each distinct bigram with its estimate, true
    // count, and whether depth-cell collisions inflated it (est ≥
    // exact always — the CM guarantee the spec holds as a property).
    "q122_countmin_bigrams" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextFns.words(TextFns.norm(col("text"))))
            .as(Seq("pos", "w0")))
        .withColumn("w1", lead(col("w0"), 1).over(w))
        .filter(col("w1").isNotNull)
        .select(concat_ws(" ", col("w0"), col("w1")).as("bg"))
        .localCheckpoint() // two consumers: cells + exact counts
      val cells = graft.operators.Sketches.countMinCells(
        bg, col("bg"), CmMults, CmWidth)
      val exact = bg.groupBy(col("bg")).agg(count(lit(1)).as("exact_cnt"))
      graft.operators.Sketches.countMinEstimates(
          exact, col("bg"), cells, CmMults, CmWidth)
        .select(col("bg"), col("est_cnt"), col("exact_cnt"),
          (col("est_cnt") > col("exact_cnt")).as("collided"))
    },

    // EXACT heavy hitters over corpus word occurrences via the
    // two-pass Misra-Gries summary (Sketches.heavyHitters):
    // candidates surface from per-partition s-counter summaries
    // WITHOUT shuffling the vocabulary, then a broadcast recount
    // makes the answer exact — so the oracle is the plain
    // GROUP BY ... HAVING it provably equals. The share is the
    // rational 1/100 of all word occurrences; the threshold
    // ceil(n/100) is integer arithmetic on both engines.
    "q137_heavy_hitters" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(TextFns.words(TextFns.norm(col("text")))).as("w"))
      graft.operators.Sketches.heavyHitters(words, col("w"), 1L, 100L, 150)
        .select(col("k").as("word"), col("cnt"))
    },

    // q75's chunk plan denominated in BPE SUBWORD tokens — the same
    // units q126 budgets in: a real pipeline chunks in the units it
    // budgets, or the window arithmetic and the mix arithmetic drift.
    // Same stride geometry (50-token chunks, stride 40, no
    // subset-chunk starts); the per-doc denominator is Bpe.tokenCount
    // — the IDENTICAL expression q118/q126 use, which is what ties
    // chunk totals to the token budget (ChunkPlanSpec asserts the
    // per-doc equality).
    "q138_chunk_plan_tokens" -> { (s, d) =>
      // spread ahead of the BPE chain — single-split scan otherwise
      // runs it in one task (2.2 s measured; operators.Spread). The
      // checkpoint is the filter-pushdown barrier: without it the
      // n_tokens predicate pushes below the spread exchange and drags
      // the tokenCount evaluation back into the 1-task scan stage
      // (guide §4.4 duplication — measured on q138/q139)
      graft.Checkpoints.checkpoint(
          graft.operators.Spread.byKey(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            col("doc_id"))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenCount(col("text")).as("n_tokens")))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          posexplode(sequence(lit(0L),
            greatest(col("n_tokens") - 11, lit(0L)), lit(40L))))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_idx"),
          col("col").as("start_tok"),
          least(lit(50L), col("n_tokens") - col("col")).as("n_tok"))
    },

    // SEQUENCE PACKING — the concat-and-cut training-batch assembly
    // step: documents concatenate in deterministic LCG-hash order
    // into one global token stream, which is cut into fixed 512-token
    // sequences (the standard packing used when a trainer consumes
    // fixed-length windows). Each output row is one (doc, sequence)
    // SPAN — where in which sequence this doc's tokens land, docs
    // crossing a cut splitting across consecutive sequences. Global
    // offsets come from Relational.globalCumsum (range shuffle +
    // per-partition window + broadcast offsets) — NO single-reducer
    // global window — and the explode emits only sequences a doc
    // actually touches (rows ≤ docs + total_tokens/512). All-integer
    // arithmetic; the oracle replays every cut.
    "q139_sequence_packing" -> { (s, d) =>
      val cap = lit(512L)
      // checkpoint BEFORE the rank: repartitionByRange SAMPLES its
      // input to pick bounds, which would evaluate the 20-merge BPE
      // replace chain a second time over every document.
      // Spread first: the BPE chain otherwise runs in the scan's one
      // input split (measured 3.2 s of 1-task stage wall — Spread doc).
      // The n_tokens filter sits AFTER the checkpoint: pushed down it
      // drags the tokenCount evaluation back below the spread exchange
      // (filter-through-repartition + the guide's §4.4 duplication),
      // re-serializing the chain — measured, not hypothetical.
      val docs = graft.Checkpoints.checkpoint(
        graft.operators.Spread.byKey(
            Tables.documents(s, d).filter(col("doc_id") >= 0)
              .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"),
            graft.functions.Bpe.tokenCount(col("text")).as("n_tokens")))
        .filter(col("n_tokens") > 0)
        .withColumn("h", lcgHash(col("doc_id")))
      graft.operators.Relational.globalCumsum(
          docs, Seq(col("h"), col("doc_id")), col("n_tokens"), "cum")
        .select(col("doc_id"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("st"), col("cum"))
        .select(col("doc_id"), col("n_tokens"), col("st"),
          explode(sequence(call_function("div", col("st"), cap),
            call_function("div", col("cum") - 1, cap))).as("seq_id"))
        .select(col("doc_id"), col("seq_id"),
          (greatest(col("st"), col("seq_id") * cap) -
            col("seq_id") * cap).as("seq_off"),
          (least(col("st") + col("n_tokens"), (col("seq_id") + 1) * cap) -
            greatest(col("st"), col("seq_id") * cap)).as("span_len"))
    },

    // PER-GROUP heavy hitters (Sketches.heavyHittersByGroup): q137's
    // Misra-Gries-then-recount with an independent threshold per
    // SOURCE — per-tenant frequent-item mining (per-source stopword /
    // boilerplate discovery) without shuffling any group's
    // vocabulary. The per-group keep decision is the integer
    // cross-multiply cnt·den ≥ n_g·num — no ceil arithmetic at all.
    "q140_heavy_hitters_by_source" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("source"),
          explode(TextFns.words(TextFns.norm(col("text")))).as("w"))
      graft.operators.Sketches.heavyHittersByGroup(
          words, col("source"), col("w"), 1L, 50L, 100)
        .select(col("g").as("source"), col("k").as("word"),
          col("cnt"), col("n_group"))
    },

    // Benchmark decontamination CENSUS (q65's overlap list upgraded to
    // the per-document verdict a training-mix builder consumes — Brown
    // et al. "Language Models are Few-Shot Learners" appendix C / Gao
    // et al. "The Pile", both public methodology): corpus = doc_id %
    // 50 != 0, benchmark = the % 50 == 0 eval subset. One row per
    // corpus doc with ≥ 1 5-gram shingle: total shingle count, hits
    // against ANY benchmark shingle, and the binary contaminated
    // verdict — zero-hit docs INCLUDED (q65 only lists the overlapping
    // ones; a census must prove the clean ones clean too). The
    // benchmark shingle-KEY set is broadcast (eval sets are MBs vs a
    // TB corpus); the corpus side streams map-side through one hash
    // probe plus its own per-doc count — the corpus is never shuffled
    // except on its own doc id.
    "q195_contamination_census" -> { (s, d) => censusSpine(s, d) },

    // DECONTAMINATED training mix — the operational closure of the
    // census: q195's verdicts APPLIED. Contaminated corpus docs (≥ 1
    // benchmark 5-gram) are dropped (shingle-less docs kept: no
    // n-gram evidence is not evidence of leakage), then each source
    // fills HALF its clean token mass in the deterministic lcg-hash
    // order — the q126 budget-fill discipline on the decontaminated
    // corpus. Every stage is exact integers (token counts, cumsum,
    // the cross-multiplied cut), so the picked set hash-matches the
    // oracle's full replay: census chain → NOT IN filter → token
    // cumsum → cut.
    "q198_decontaminated_mix" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val census = censusSpine(s, d) // shared with q195 — built once
      val clean = docs.filter(col("doc_id") % 50 =!= 0)
        .join(census.select(col("doc_id"), col("contaminated")),
          Seq("doc_id"), "left")
        .filter(coalesce(col("contaminated"), lit(0L)) === 0L)
        .select(col("doc_id"), col("source"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint() // consumers: per-source totals + cumsum
      val srcTot = clean.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("src_tokens"))
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(lcgHash(col("doc_id")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      clean.withColumn("cum_tokens", sum(col("n_tokens")).over(byHash))
        .join(broadcast(srcTot), "source")
        .filter(col("cum_tokens") * 2 <= col("src_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
    },

    // PII CENSUS — the pre-publish scrub pass (C4/Dolma methodology):
    // per doc, counts of emails / phone fragments / dotted-quad IPs
    // plus the redacted length. The fixture text is a digit-free word
    // soup, so identifiers are PLANTED deterministically from doc_id
    // (the q186/q190 planted-corruption protocol): every 7th doc gets
    // an email, every 11th a phone, every 13th an IP — zero-count docs
    // stay in the census (clean must be provably clean). Entirely
    // row-local; the ASCII patterns parse identically under Java
    // regex and RE2, so the oracle replays every count and length.
    "q201_pii_census" -> { (s, d) =>
      import graft.operators.Quality
      val planted = concat(
        TextFns.norm(col("text")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"),
            (col("doc_id") % 100).cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" from 10.0."),
            (col("doc_id") % 256).cast("string"), lit("."),
            (call_function("div", col("doc_id"), lit(256L)) % 256)
              .cast("string"))).otherwise(lit("")))
      Quality.piiCensus(
        Tables.documents(s, d).select(col("doc_id"), planted.as("text")),
        "doc_id", "text")
    },

    // Quality-aware near-dup CANONICAL SELECTION — where q108 keeps
    // per-PAIR minima, this closes the transitive chains (A~B, B~C ⇒
    // one cluster even when A!~C): LSH pairs → star-contraction
    // components → keep the LONGEST member per cluster (ties to min
    // id). The oracle replays the whole chain — q26's signature/band
    // CTEs, then a recursive min-reachability CTE for the components —
    // so the clustering itself is hash-checked, not just the pairs.
    "q202_neardup_keeper" -> { (s, d) => clusterSpine(s, d) },

    // DEDUP TOKEN-SAVINGS ledger — the accounting line every curation
    // run reports to its owners: per source, documents and tokens
    // before/after the near-dup keeper policy (the pinned q202
    // cluster verdicts; unclustered docs are kept by definition),
    // savings in exact basis points. One token projection + one keyed
    // left join against the pinned spine + one source aggregate — the
    // spine's LSH work is never re-run.
    "q245_dedup_savings" -> { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextFns.words(TextFns.norm(col("text")))).cast("long")
            .as("n_tokens"))
      tok.join(clusterSpine(s, d).select(col("doc_id"), col("kept")),
          Seq("doc_id"), "left")
        .select(col("source"), col("n_tokens"),
          coalesce(col("kept"), lit(1L)).as("kept"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(col("n_tokens") * col("kept")).as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("tokens_total"), col("tokens_kept"),
          expr("(tokens_total - tokens_kept) * 10000 div tokens_total")
            .as("savings_x10k"))
    },

    // N-gram NOVELTY census — per doc, how much of its content was
    // already introduced by an earlier arrival (ids = arrival order):
    // the corpus-level curation metric (re-crawl → 0, first sighting →
    // 10000). Two keyed shuffles, no pair space.
    "q205_ngram_novelty" -> { (s, d) =>
      Dedup.noveltyCensus(Tables.documents(s, d), "doc_id", "text")
    },

    // DATASET CARD — the datasheet a curation run publishes (Gebru et
    // al., "Datasheets for Datasets"): one (metric, value) relation
    // with the corpus-level facts a consumer reads before training —
    // volume (docs/chars/words/vocabulary), provenance spread
    // (langs/sources/top-lang share), redundancy (exact-dup excess =
    // docs − distinct normalized texts; near-dup excess = clustered
    // docs − clusters, q202's transitive components), and shape
    // (short-doc count, scaled mean length). All exact integers; the
    // scalar one-row joins are broadcast crossJoins (the q42 shape).
    "q214_dataset_card" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = TextFns.words(TextFns.norm(col("text")))
      val base = docs.select(col("lang"), col("source"), col("n_chars"),
        size(words).cast("long").as("nw"), TextFns.norm(col("text")).as("tk"))
      val agg1 = base.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("nw")).as("total_words"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(when(col("nw") < 20, 1L).otherwise(0L)).as("short_docs"),
        (count(lit(1)) - countDistinct(col("tk"))).as("exact_dup_excess"))
      val topLang = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("c")).agg(max(col("c")).as("top_lang_docs"))
      val vocab = docs.select(explode(words).as("w"))
        .agg(countDistinct(col("w")).as("distinct_words"))
      val nd = clusterSpine(s, d) // pinned — shared with q202/q213
        .agg((count(lit(1)) - countDistinct(col("cluster_id")))
          .as("neardup_excess"))
      agg1.crossJoin(topLang).crossJoin(vocab).crossJoin(nd)
        .withColumn("mean_words_x100",
          floor(col("total_words") * 100L / col("n_docs")).cast("long"))
        .select(explode(map(
          lit("n_docs"), col("n_docs"),
          lit("total_chars"), col("total_chars"),
          lit("total_words"), col("total_words"),
          lit("distinct_words"), col("distinct_words"),
          lit("n_langs"), col("n_langs"),
          lit("n_sources"), col("n_sources"),
          lit("top_lang_docs"), col("top_lang_docs"),
          lit("exact_dup_excess"), col("exact_dup_excess"),
          lit("neardup_excess"), col("neardup_excess"),
          lit("short_docs"), col("short_docs"),
          lit("mean_words_x100"), col("mean_words_x100")))
          .as(Seq("metric", "value")))
    },

    // CLUSTER-safe train/val/test split — q79 keys the split on the
    // EXACT-prefix canon, which still leaks fuzzy near-dups across
    // splits (the eval-contamination a paraphrased copy causes); this
    // keys on the TRANSITIVE LSH cluster id (q202's components), so a
    // whole duplicate cluster lands in one split by construction.
    // Unclustered docs key on their own id — same hash ladder as q79.
    "q213_cluster_safe_split" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
      val clusters = clusterSpine(s, d) // pinned — shared with q202/q214
        .select(col("doc_id"), col("cluster_id"))
      docs.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canon"))
        .withColumn("bucket", lcgHash(col("canon")) % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("canon"), col("split"))
    },

    // LSH dedup-verdict RECALL curve — what q182's per-candidate
    // calibration cannot see: pairs the banding MISSED entirely. The
    // exact relation comes from the INDEPENDENT PPJoin path (q25's
    // prefix-filtered exact Jaccard at 0.3), the LSH verdicts from the
    // q108 chain (bands → ≥16/32 agreement); per true-Jaccard decile,
    // how many true pairs the production dedup would actually flag —
    // the measured S-curve that picks band geometry at scale, vs the
    // 1-(1-j^r)^b theory.
    "q210_lsh_dedup_eval" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val ex = jaccardTruth(s, d)
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      val lsh = Dedup.minhashEstimate(
          Dedup.lshCandidates(sigs, "doc_id"), sigs, "doc_id")
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("flagged"))
      ex.join(lsh, Seq("id_a", "id_b"), "left")
        .select(floor(col("jaccard") * 10).cast("long").as("decile"),
          coalesce(col("flagged"), lit(0L)).as("flagged"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_true"),
          sum(col("flagged")).as("n_flagged"))
        .select(col("decile"), col("n_true"), col("n_flagged"),
          floor(col("n_flagged") * 10000L / col("n_true")).cast("long")
            .as("recall_x10k"))
    },

    // BLOCKING-quality eval (the q210 discipline applied to the ER
    // blocking stage — Christen's pairs-completeness / reduction-ratio
    // pair, Springer 2012, public): sorted-neighborhood candidates at
    // window ∈ {2, 5, 10} over the 32-char normalized-prefix sort key,
    // graded against the EXACT 3-gram Jaccard ≥ 0.3 relation. PC =
    // how much truth the window catches, RR = how much of the n²/2
    // pair space it never looks at — the tuning curve that prices a
    // wider window. Integer `div` arithmetic throughout. Scale shape:
    // the truth relation is PPJoin-blocked (never all-pairs), each
    // window's candidates are exactly n·w rows off the q111 rank
    // join, and the metric combine is 1-row scalars (q135 shape).
    "q221_blocking_eval" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val truth = jaccardTruth(s, d).select(col("id_a"), col("id_b"))
      val keyed = docs.select(col("doc_id"),
        substring(TextFns.norm(col("text")), 1, 32).as("bk"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      Seq(2, 5, 10).map { w =>
        val cand = graft.Checkpoints.checkpoint(
          Dedup.sortedNeighborhoodPairs(keyed, "doc_id", "bk", w)
            .select(least(col("id_a"), col("id_b")).as("ka"),
              greatest(col("id_a"), col("id_b")).as("kb"))
            .select(col("ka").as("id_a"), col("kb").as("id_b")))
        val nCand = cand.agg(count(lit(1)).as("n_cand"))
        val nHit = cand.join(truth, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("n_hit"))
        nCand.crossJoin(nHit).crossJoin(broadcast(nTrue))
          .crossJoin(broadcast(nDocs))
          .select(lit(w.toLong).as("win"), col("n_cand"), col("n_hit"),
            col("n_true"),
            expr("(n_hit * 10000) div n_true").as("pc_x10k"),
            expr("(((n_docs * (n_docs - 1)) div 2 - n_cand) * 10000)" +
              " div ((n_docs * (n_docs - 1)) div 2)").as("rr_x10k"))
      }.reduce(_ unionByName _)
    },

    // URL census — link hygiene before host aggregation (C4/CCNet):
    // host / registrable domain / path extraction plus tracking-param
    // (utm_*) stripping in original order. URLs are PLANTED
    // deterministically from doc_id (the q201 protocol; every 4th doc
    // stays link-free so the zero case is provably covered); the whole
    // pass is one row-local projection.
    "q209_url_census" -> { (s, d) =>
      import graft.operators.Quality
      val planted = concat(
        TextFns.norm(col("text")),
        when(col("doc_id") % 4 =!= 0, concat(
          lit(" see https://sub"), (col("doc_id") % 7).cast("string"),
          lit(".host"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), (col("doc_id") % 50).cast("string"),
          lit("?utm_source=a&x="), (col("doc_id") % 5).cast("string"),
          lit("&utm_campaign=b&ref="), (col("doc_id") % 3).cast("string")))
          .otherwise(lit("")))
      Quality.urlCensus(
        Tables.documents(s, d).select(col("doc_id"), planted.as("text")),
        "doc_id", "text")
    },

    // PERCEPTUAL image near-dup — the multimodal member of the dedup
    // family (image re-posts/brightness-shifted copies that byte or
    // text hashes never see): REAL PNG bytes synthesized per doc
    // (lossless, so the planted 9×8 gradient pattern decodes exactly;
    // docs in one decade share it up to a one-pixel perturbation), the
    // REAL ImageIO codec decodes every image, dHash64 signs the
    // luminance gradient field, and the simhash 16-bit band join pairs
    // signatures at hamming ≤ 3 — pigeonhole-exact, never all-pairs.
    // The oracle predicts pixels → gradient bits → hash → band buckets
    // → hamming arithmetically: a codec that doesn't really decode
    // pixels cannot fake it (the q106 discipline).
    "q207_image_phash_neardup" -> { (s, d) =>
      import s.implicits._
      // spread before the PNG-synth mapPartitions (operators.Spread)
      // + checkpoint: hammingPairs64 consumes sig twice, so the
      // synth+hash would otherwise run twice (2 × ~0.95 s of 1-task
      // wall measured)
      val media = graft.operators.Spread.byKey(
          Tables.documents(s, d)
            .filter(col("doc_id") >= 0).select(col("doc_id")),
          col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val dec = id / 10
          val pert = (id % 10).toInt
          graft.operators.Multimodal.Media(id, "image/png",
            graft.operators.Multimodal.synthPatternPng(9, 8, (x, y) =>
              ((dec * 31 + x * x * (1 + dec % 13) * 3
                + y * 7 * (1 + dec % 7) + (x + y + dec) % 11
                + (if (x == 0 && y == 0) pert else 0)) % 256).toInt))
        })
      val sig = graft.Checkpoints.checkpoint(
        graft.operators.Multimodal.dHash64(media).filter(col("ok")))
      Dedup.hammingPairs64(sig, "media_id", "dhash", 3)
    },

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 —
    // public): PageRank over the word ADJACENCY graph — the paper's
    // keyword form is exactly UNWEIGHTED + UNDIRECTED, which is what
    // the engine's own integer pageRankInt computes (dedup via
    // distinct, symmetrize via least/greatest) over the q158 adjacent-
    // pair relation. A hub word co-occurring with MANY DISTINCT words
    // outranks a merely frequent word whose repetitions all add the
    // same edge — the property a tf ranking cannot express. Scale
    // shape: pair explode is row-local, the graph is VOCABULARY-sized
    // (edges dedup to distinct word pairs), PR rounds are the q87
    // vertex-keyed loop, top-30 is a distributed TakeOrdered.
    "q218_textrank_keywords" -> { (s, d) =>
      val words = TextFns.words(TextFns.norm(col("text")))
      val pairs = Tables.documents(s, d)
        .select(explode(when(size(words) >= 2,
          zip_with(slice(words, lit(1), size(words) - 1),
            slice(words, lit(2), size(words) - 1),
            (a, b) => struct(a.as("x"), b.as("y"))))
          .otherwise(array())).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
      graft.operators.Graph.pageRankInt(pairs, "x", "y", iters = 3)
        .orderBy(col("rank_scaled").desc, col("v"))
        .limit(30)
        .select(col("v").as("word"), col("rank_scaled"))
    }
  )

  // q122 sketch geometry: depth 3 (distinct PolyHash multipliers — 31
  // is the engine-wide word hash, 37/41 stay inside the no-overflow
  // argument of PolyHash's scaladoc), width 256 — small enough that
  // the fixture vocabulary actually collides, so `collided` exercises
  // both branches.
  private val CmMults = Seq(31L, 37L, 41L)
  private val CmWidth = 256

  /** Shared DuckDB chain of the 5-gram shingle-KEY family (q195/q198):
    * word polyHash list → 5-slot fold keys, distinct per doc — every
    * step exact nonnegative int64 mod arithmetic (the Spark twin is
    * [[Dedup.docShingleKeys]] with n = 5). */
  private def shingleKeyChainSql(pred: String, sfx: String): String = {
    val fold = (1 until 5).foldLeft("hs[i]")((acc, k) =>
      s"(($acc) * 31 + hs[i+$k]) % 1000000007")
    s"""w$sfx AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |       FROM documents WHERE $pred),
       |wh$sfx AS (SELECT doc_id,
       |    list_transform(ws, w -> ${wordHashSql("w")}) AS hs FROM w$sfx),
       |shk$sfx AS (SELECT DISTINCT doc_id, $fold AS k
       |  FROM (SELECT doc_id, hs,
       |          unnest(generate_series(1, len(hs) - 4)) AS i
       |        FROM wh$sfx WHERE len(hs) >= 5))""".stripMargin
  }

  /** DuckDB twin of TextFns.polyHash over a word expression. */
  private def wordHashSql(w: String, mult: Long = 31L,
                          mod: Long = 1000000007L): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, x) -> (a * $mult + x) % $mod)"

  /** Generated DuckDB twin of minhashSignatures ∘ lshCandidates (q26):
    * per-word poly hash → 3-gram fold keys → 32 affine min-aggregates
    * with the SAME literal constants as Dedup.minhashPerms → 8 band
    * LCG folds → bucket self-join. Every step is exact nonnegative
    * int64 arithmetic — hash parity is by construction, not luck. */
  private def minhashLshSql: String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH ${minhashBandsBody(mins, bands)}
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  /** The shared CTE chain of the minhash family (q26/q108): word
    * hashes → shingle keys → 32-slot signatures (`sig`, columns
    * m0..m31) → 8 band keys (`bands`). */
  private def minhashBandsBody(mins: String, bands: String): String =
    s"""w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |           FROM documents),
       |wh AS (SELECT doc_id, list_transform(ws, w -> ${wordHashSql("w")}) AS hs
       |       FROM w),
       |shk AS (SELECT DISTINCT doc_id,
       |    (((hs[i] * 31 + hs[i+1]) % 1000000007) * 31 + hs[i+2]) % 1000000007 AS k
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - 2)) AS i
       |        FROM wh WHERE len(hs) >= 3)),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM shk GROUP BY doc_id),
       |bands AS ($bands)""".stripMargin

  /** [[minhashBandsBody]] generalized to any source relation and a CTE
    * -name suffix, so the q192 oracle can run the SAME chain over the
    * corpus and over the derived increment side by side (`sig$sfx`,
    * `bands$sfx`). */
  private def minhashChainSql(src: String, sfx: String): String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig$sfx")
      .mkString("\n  UNION ALL ")
    s"""w$sfx AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |           FROM $src),
       |wh$sfx AS (SELECT doc_id, list_transform(ws, w -> ${wordHashSql("w")})
       |             AS hs
       |       FROM w$sfx),
       |shk$sfx AS (SELECT DISTINCT doc_id,
       |    (((hs[i] * 31 + hs[i+1]) % 1000000007) * 31 + hs[i+2])
       |      % 1000000007 AS k
       |  FROM (SELECT doc_id, hs,
       |          unnest(generate_series(1, len(hs) - 2)) AS i
       |        FROM wh$sfx WHERE len(hs) >= 3)),
       |sig$sfx AS (SELECT doc_id,
       |    $mins
       |  FROM shk$sfx GROUP BY doc_id),
       |bands$sfx AS ($bands)""".stripMargin
  }

  // Generated DuckDB twin of q192: the derived increment (exact copy /
  // reversed novel / drop-last-word near-dup), the minhash chain run
  // over BOTH relations, the band-collision candidate join, the
  // 32-slot agreement verify, and the (n_agree DESC, cid ASC) top-1
  // admission verdict — term for term Dedup.incrementalNearDup over
  // the recomputed index.
  private def incrementalNearDupSql: String = {
    val matches = (0 until 32)
      .map(i => s"CASE WHEN sb.m$i = sc.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val nws = s"string_split(${normSql("text")}, ' ')"
    s"""WITH bt0 AS (SELECT doc_id,
       |    CASE WHEN doc_id % 14 = 0 THEN ${normSql("text")}
       |         WHEN doc_id % 21 = 0
       |           THEN array_to_string(list_reverse($nws), ' ')
       |         ELSE array_to_string($nws[1 : len($nws) - 1], ' ')
       |    END AS text
       |  FROM documents WHERE doc_id % 7 = 0),
       |bt AS (SELECT doc_id + 1000000 AS doc_id, text FROM bt0),
       |${minhashChainSql("documents", "c")},
       |${minhashChainSql("bt", "b")},
       |cand AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |  FROM bandsb bb JOIN bandsc cb
       |    ON bb.band = cb.band AND bb.bkey = cb.bkey),
       |agr AS (SELECT cand.bid, cand.cid, CAST(($matches) AS BIGINT)
       |    AS n_agree
       |  FROM cand JOIN sigb sb ON cand.bid = sb.doc_id
       |            JOIN sigc sc ON cand.cid = sc.doc_id),
       |best AS (SELECT bid, cid, n_agree FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bid
       |      ORDER BY n_agree DESC, cid) AS rn FROM agr) x WHERE rn = 1)
       |SELECT bt.doc_id, best.cid AS dup_of,
       |  CAST(coalesce(best.n_agree, 0) AS BIGINT) AS n_agree,
       |  coalesce(best.n_agree, 0) >= 16 AS is_dup
       |FROM bt LEFT JOIN best ON bt.doc_id = best.bid""".stripMargin
  }

  /** Generated DuckDB twin of q182: the q26 candidate CTEs + the
    * 32-slot agreement count + exact 3-gram Jaccard (string shingles,
    * candidates only) bucketed per agreement level. */
  private def sketchCalibrationSql: String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    val matches = (0 until 32)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${minhashBandsBody(mins, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |m AS (SELECT id_a, id_b, CAST(($matches) AS BIGINT) AS matches
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b),
       |ss AS (SELECT DISTINCT doc_id,
       |    array_to_string(ws[i : i + 2], ' ') AS sh
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - 2)) AS i
       |        FROM w WHERE len(ws) >= 3)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
       |       FROM ss GROUP BY 1),
       |co AS (SELECT m.id_a, m.id_b, CAST(count(*) AS BIGINT) AS co
       |  FROM m JOIN ss a ON m.id_a = a.doc_id
       |         JOIN ss b ON m.id_b = b.doc_id AND a.sh = b.sh
       |  GROUP BY 1, 2),
       |jx AS (SELECT matches,
       |    CAST(round(CAST(coalesce(co.co, 0) AS DOUBLE)
       |      / (za.n_sh + zb.n_sh - coalesce(co.co, 0)) * 10000, 0)
       |      AS BIGINT) AS jx10k
       |  FROM m JOIN sz za ON m.id_a = za.doc_id
       |         JOIN sz zb ON m.id_b = zb.doc_id
       |         LEFT JOIN co ON m.id_a = co.id_a AND m.id_b = co.id_b)
       |SELECT matches, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(jx10k) AS BIGINT) AS sum_j_x10k,
       |  min(jx10k) AS min_j_x10k, max(jx10k) AS max_j_x10k
       |FROM jx GROUP BY 1""".stripMargin
  }

  /** Generated DuckDB twin of the q108 banded near-dup drop decision:
    * q26's candidate pairs, filtered to signature agreement on ≥ 16 of
    * 32 slots (the integer form of est_jaccard ≥ 0.5), grouped to the
    * per-dropped-doc canonical. Also the batch side of the STREAMING
    * parity gate (EventStreams.bandedNearDup ≡ this pair set). */
  private def bandedNearDupSql: String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    val matches = (0 until 32)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${minhashBandsBody(mins, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |m AS (SELECT id_a, id_b, ($matches) AS matches
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b)
       |SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of,
       |  CAST(count(*) AS BIGINT) AS n_dup_sources
       |FROM m WHERE matches >= 16 GROUP BY id_b""".stripMargin
  }

  /** Generated DuckDB twin of the q202 cluster keeper: q26's
    * signature/band/candidate CTEs → edges at ≥ 16/32 slot agreement →
    * a RECURSIVE min-reachability CTE (min reachable id over the
    * symmetrized edge set ≡ the star contraction's component minimum)
    * → per-cluster keeper by (n_words DESC, doc_id) — the exact
    * argmax the Spark max(struct) computes. */
  /** Shared CTE chain of every cluster-consuming oracle (q202 keeper,
    * q213 split, q214 card): q26's signature/band/candidate CTEs →
    * verified edges at ≥ `minMatches`/32 slot agreement → symmetric
    * closure → the recursive min-reachability components `cc(doc_id,
    * cluster_id)` (min reachable id ≡ the star contraction's component
    * minimum). Callers prepend WITH RECURSIVE and append their tail. */
  private def minhashClusterCtes(minMatches: Int): String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    val matches = (0 until 32)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""${minhashBandsBody(mins, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |e AS (SELECT id_a AS a, id_b AS b
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b
       |  WHERE ($matches) >= $minMatches),
       |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |verts AS (SELECT DISTINCT a AS v FROM sym),
       |reach(v, r) AS (SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT sym.b AS v, reach.r FROM reach JOIN sym ON sym.a = reach.v),
       |cc AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |       FROM reach GROUP BY v)""".stripMargin
  }

  private def nearDupKeeperSql: String = {
    s"""WITH RECURSIVE ${minhashClusterCtes(16)},
       |nw AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w),
       |rk AS (SELECT cc.doc_id, cc.cluster_id, row_number() OVER (
       |    PARTITION BY cc.cluster_id
       |    ORDER BY nw.n_words DESC, cc.doc_id) AS rn
       |  FROM cc JOIN nw USING (doc_id)),
       |k AS (SELECT cluster_id, doc_id AS keeper_id FROM rk WHERE rn = 1),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |       FROM cc GROUP BY 1)
       |SELECT cc.doc_id, cc.cluster_id, k.keeper_id,
       |  CAST(CASE WHEN cc.doc_id = k.keeper_id THEN 1 ELSE 0 END
       |    AS BIGINT) AS kept,
       |  sz.n_members
       |FROM cc JOIN k USING (cluster_id) JOIN sz USING (cluster_id)"""
      .stripMargin
  }

  /** Generated DuckDB twin of the q213 cluster-safe split: q202's
    * recursive component chain gives the cluster canon, unclustered
    * docs fall back to their own id, then q79's hash ladder. */
  private def clusterSafeSplitSql: String = {
    s"""WITH RECURSIVE ${minhashClusterCtes(16)},
       |cn AS (SELECT d.doc_id,
       |    CAST(coalesce(cc.cluster_id, d.doc_id) AS BIGINT) AS canon
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
       |  WHERE d.doc_id >= 0),
       |bk AS (SELECT doc_id, canon,
       |  (${lcgHashSql("canon")}) % 100 AS bucket FROM cn)
       |SELECT doc_id, canon,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM bk""".stripMargin
  }

  /** Generated DuckDB twin of the q210 recall curve: the q26
    * signature/band/agreement chain for the LSH verdicts, the q25
    * exact shingle-join relation for the truth, joined per
    * true-Jaccard decile. */
  /** q221 oracle: the exact 3-gram Jaccard truth (the q210 ss2/ex2
    * replay, fresh `be`-prefixed CTE names), the q111-style global
    * sort rank on the 32-char normalized prefix, the three window
    * candidate joins, and the integer PC/RR arithmetic. */
  private def blockingEvalSql: String = {
    def candw(w: Int) =
      s"""bec$w AS MATERIALIZED (SELECT least(a.doc_id, b.doc_id) AS id_a,
         |    greatest(a.doc_id, b.doc_id) AS id_b
         |  FROM ber a JOIN ber b
         |    ON b.brnk BETWEEN a.brnk + 1 AND a.brnk + $w),
         |bem$w AS (SELECT CAST($w AS BIGINT) AS win,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bec$w) AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bec$w c
         |       JOIN bex t ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |      AS n_hit)""".stripMargin
    s"""WITH bw AS (SELECT doc_id,
       |    string_split(${normSql("text")}, ' ') AS ws FROM documents),
       |bss AS (SELECT DISTINCT doc_id,
       |    array_to_string(ws[i : i + 2], ' ') AS s2
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - 2)) AS i
       |        FROM bw WHERE len(ws) >= 3)),
       |bsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
       |        FROM bss GROUP BY 1),
       |bco AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(count(*) AS BIGINT) AS co
       |       FROM bss a JOIN bss b ON a.s2 = b.s2 AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |bex AS MATERIALIZED (SELECT id_a, id_b
       |  FROM bco JOIN bsz za ON bco.id_a = za.doc_id
       |           JOIN bsz zb ON bco.id_b = zb.doc_id
       |  WHERE round(CAST(co AS DOUBLE) / (za.n_sh + zb.n_sh - co), 4)
       |    >= 0.3),
       |bek AS (SELECT doc_id, substring(${normSql("text")}, 1, 32) AS bk
       |        FROM documents),
       |ber AS MATERIALIZED (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY bk, doc_id) AS BIGINT)
       |      AS brnk FROM bek),
       |bnt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM bex),
       |bnd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |${Seq(2, 5, 10).map(candw).mkString(",\n")}
       |SELECT win, n_cand, n_hit, n_true,
       |  (n_hit * 10000) // n_true AS pc_x10k,
       |  (((n_docs * (n_docs - 1)) // 2 - n_cand) * 10000)
       |    // ((n_docs * (n_docs - 1)) // 2) AS rr_x10k
       |FROM (SELECT * FROM bem2 UNION ALL SELECT * FROM bem5
       |      UNION ALL SELECT * FROM bem10)
       |CROSS JOIN bnt CROSS JOIN bnd""".stripMargin
  }

  private def lshDedupEvalSql: String = {
    val perms = Dedup.minhashPerms(32)
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((k * $a + $b) % ${Dedup.MinhashMod}) AS m$i"
    }.mkString(",\n    ")
    def bandKey(b: Int): String =
      (0 until 4).foldLeft("0")((h, r) =>
        s"(($h * 1103515245 + m${b * 4 + r}) % $LcgMod)")
    val bands = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    val matches = (0 until 32)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${minhashBandsBody(mins, bands)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |lshp AS (SELECT id_a, id_b
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b
       |  WHERE ($matches) >= 16),
       |ss2 AS (SELECT DISTINCT doc_id,
       |    array_to_string(ws[i : i + 2], ' ') AS s2
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - 2)) AS i
       |        FROM w WHERE len(ws) >= 3)),
       |sz2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
       |        FROM ss2 GROUP BY 1),
       |co2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(count(*) AS BIGINT) AS co
       |       FROM ss2 a JOIN ss2 b ON a.s2 = b.s2 AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |ex2 AS (SELECT id_a, id_b,
       |    round(CAST(co AS DOUBLE) / (za.n_sh + zb.n_sh - co), 4) AS j
       |  FROM co2 JOIN sz2 za ON co2.id_a = za.doc_id
       |           JOIN sz2 zb ON co2.id_b = zb.doc_id
       |  WHERE round(CAST(co AS DOUBLE) / (za.n_sh + zb.n_sh - co), 4)
       |    >= 0.3)
       |SELECT CAST(floor(j * 10) AS BIGINT) AS decile,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_flagged,
       |  CAST((sum(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |    * 10000) // count(*) AS BIGINT) AS recall_x10k
       |FROM ex2 LEFT JOIN lshp l
       |  ON ex2.id_a = l.id_a AND ex2.id_b = l.id_b
       |GROUP BY 1""".stripMargin
  }

  /** Generated DuckDB twin of Dedup.simhash64 as CTEs ending in
    * `sig(doc_id, simhash)`: distinct-word counts → the 60-bit packed
    * double-polynomial word hash (Dedup.wordHash60) → per-bit
    * count-weighted sign sums → signature assembly. Exact int64
    * everywhere; bit extraction is `(hw >> j) & 1` on both engines. */
  private def simhashSigSql: String =
    s"""w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |           FROM documents),
       |wc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2),
       |wh AS (SELECT doc_id, cnt,
       |    ((${wordHashSql("word", 31L, 1000000007L)}
       |       * 1103515245) % 1000000007) * 1073741824
       |      + ((${wordHashSql("word", 37L, 998244353L)}
       |       * 1103515245) % 998244353) AS hw
       |  FROM wc),
       |bits AS (SELECT doc_id, j,
       |    CASE WHEN sum(CASE WHEN (hw >> j) & 1 = 1 THEN cnt
       |                       ELSE -cnt END) > 0 THEN 1 ELSE 0 END AS b
       |  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id,
       |    CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  private val shSql =
    s"""w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS words
       |      FROM documents),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS s
       |       FROM (SELECT doc_id, words,
       |               unnest(generate_series(1, len(words)-2)) AS i
       |             FROM w WHERE len(words) >= 3))""".stripMargin

  private lazy val bm25IndexedSql: String =
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY 1),
         |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df_
         |        FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(dl) AS BIGINT) AS totdl FROM dl),
         |ratio AS (SELECT doc_id, term,
         |    CAST(44 * tf * totdl * (2 * n_docs - 2 * df_ + 1) AS DOUBLE)
         |    / CAST((2 * df_ + 1) * (20 * totdl * tf + 6 * totdl
         |        + 18 * dl * n_docs) AS DOUBLE) AS r
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term)
         |       CROSS JOIN tot
         |  WHERE term IN ('query', 'merge', 'spark')),
         |piv AS (SELECT doc_id,
         |    coalesce(max(CASE WHEN term = 'query' THEN r END), 0.0) AS r1,
         |    coalesce(max(CASE WHEN term = 'merge' THEN r END), 0.0) AS r2,
         |    coalesce(max(CASE WHEN term = 'spark' THEN r END), 0.0) AS r3
         |  FROM ratio GROUP BY 1)
         |SELECT doc_id,
         |  CAST((CASE WHEN r1 > 0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r2 > 0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN r3 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_terms_matched,
         |  rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    ORDER BY r1 + r2 + r3 DESC, doc_id) AS BIGINT) AS rank
         |  FROM piv WHERE r1 + r2 + r3 > 0)
         |WHERE rank <= 20""".stripMargin

  /** q218 oracle: the q87 integer-PageRank unroll (3 rounds, each CTE
    * MATERIALIZED — round k references round k−1 twice) over the word
    * adjacency graph instead of the co-ship kNN graph. */
  private lazy val textRankSql: String = {
    val S = "1000000000000"
    def round(k: Int) =
      s"""c$k AS MATERIALIZED (SELECT adj.d AS v,
         |    sum(r${k - 1}.r // deg.s_dg) AS m
         |  FROM adj JOIN r${k - 1} ON adj.s = r${k - 1}.v
         |           JOIN deg ON adj.s = deg.s
         |  GROUP BY adj.d),
         |r$k AS MATERIALIZED (SELECT verts.v,
         |    (15 * ($S // nn.c)) // 100
         |      + (85 * coalesce(c$k.m, 0)) // 100 AS r
         |  FROM verts CROSS JOIN nn
         |       LEFT JOIN c$k ON verts.v = c$k.v)""".stripMargin
    s"""WITH tw AS (SELECT string_split(${normSql("text")}, ' ') AS ws
       |            FROM documents),
       |wp AS (SELECT ws[i] AS x, ws[i + 1] AS y
       |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |             FROM tw WHERE len(ws) >= 2) z),
       |ed AS MATERIALIZED (SELECT DISTINCT least(x, y) AS u,
       |    greatest(x, y) AS v
       |  FROM wp WHERE x <> y AND x IS NOT NULL AND y IS NOT NULL),
       |adj AS MATERIALIZED (SELECT u AS s, v AS d FROM ed
       |  UNION ALL SELECT v AS s, u AS d FROM ed),
       |verts AS (SELECT DISTINCT s AS v FROM adj),
       |nn AS (SELECT count(*) AS c FROM verts),
       |deg AS (SELECT s, count(*) AS s_dg FROM adj GROUP BY s),
       |r0 AS (SELECT v, $S // c AS r FROM verts, nn),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT v AS word, CAST(r AS BIGINT) AS rank_scaled FROM r3
       |ORDER BY rank_scaled DESC, word LIMIT 30""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q276: same pass census, the same floor(sqrt) + ±1 integer
    // correction as Relational.isqrt (the q155 CTE), same floordivs
    "q276_rate_lcb_ranking" ->
      """WITH wd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 2000
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |  FROM documents WHERE doc_id >= 0 GROUP BY 1),
        |w1 AS (SELECT *, (n_pass * (n_docs - n_pass) + n_docs)
        |    * 100000000 // n_docs AS x FROM wd),
        |w2 AS (SELECT *,
        |    CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0
        |  FROM w1),
        |w3 AS (SELECT *,
        |    CASE WHEN s0 * s0 > x THEN s0 - 1
        |         WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1
        |         ELSE s0 END AS wroot
        |  FROM w2),
        |w4 AS (SELECT source, n_docs, n_pass,
        |    n_pass * 10000 // n_docs AS rate_x10k,
        |    ((n_pass + 2) * 10000 - 2 * wroot) // (n_docs + 4)
        |      AS lcb_x10k
        |  FROM w3)
        |SELECT source, n_docs, n_pass, rate_x10k,
        |  CAST(lcb_x10k AS BIGINT) AS lcb_x10k,
        |  CAST(row_number() OVER (ORDER BY lcb_x10k DESC, source)
        |    AS BIGINT) AS lcb_rank,
        |  CAST(row_number() OVER (ORDER BY rate_x10k DESC, source)
        |    AS BIGINT) AS rate_rank
        |FROM w4""".stripMargin,

    "q26_minhash_lsh" -> minhashLshSql,
    "q218_textrank_keywords" -> textRankSql,
    "q192_incremental_neardup" -> incrementalNearDupSql,
    "q182_sketch_calibration" -> sketchCalibrationSql,

    "q108_banded_neardup_drop" -> bandedNearDupSql,
    "q202_neardup_keeper" -> nearDupKeeperSql,
    "q210_lsh_dedup_eval" -> lshDedupEvalSql,
    "q221_blocking_eval" -> blockingEvalSql,
    "q213_cluster_safe_split" -> clusterSafeSplitSql,

    // q245: the q202 keeper chain + token counts + the per-source
    // ledger (unclustered docs kept via the LEFT join coalesce).
    "q245_dedup_savings" ->
      s"""WITH RECURSIVE ${minhashClusterCtes(16)},
         |nw AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words
         |       FROM w),
         |rk AS (SELECT cc.doc_id, cc.cluster_id, row_number() OVER (
         |    PARTITION BY cc.cluster_id
         |    ORDER BY nw.n_words DESC, cc.doc_id) AS rn
         |  FROM cc JOIN nw USING (doc_id)),
         |kp AS (SELECT doc_id,
         |    CASE WHEN rn = 1 THEN 1 ELSE 0 END AS kept FROM rk),
         |base AS (SELECT d.source, nw.n_words AS n_tokens,
         |    coalesce(kp.kept, 1) AS kept
         |  FROM documents d JOIN nw USING (doc_id)
         |  LEFT JOIN kp USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |  CAST(sum(n_tokens * kept) AS BIGINT) AS tokens_kept,
         |  CAST((sum(n_tokens) - sum(n_tokens * kept)) * 10000
         |    // sum(n_tokens) AS BIGINT) AS savings_x10k
         |FROM base GROUP BY 1""".stripMargin,

    // q214: the shared cluster chain for neardup_excess, plus plain
    // corpus aggregates; `w` (from the chain) supplies the word lists
    "q214_dataset_card" ->
      s"""WITH RECURSIVE ${minhashClusterCtes(16)},
         |base AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |    CAST(len(w.ws) AS BIGINT) AS nw,
         |    ${normSql("d.text")} AS tk
         |  FROM documents d JOIN w ON d.doc_id = w.doc_id),
         |a1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |    CAST(sum(nw) AS BIGINT) AS total_words,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(sum(CASE WHEN nw < 20 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS short_docs,
         |    CAST(count(*) - count(DISTINCT tk) AS BIGINT)
         |      AS exact_dup_excess
         |  FROM base),
         |tl AS (SELECT CAST(max(c) AS BIGINT) AS top_lang_docs FROM
         |  (SELECT count(*) AS c FROM documents GROUP BY lang)),
         |vb AS (SELECT CAST(count(DISTINCT wo) AS BIGINT)
         |    AS distinct_words
         |  FROM (SELECT unnest(ws) AS wo FROM w)),
         |nd AS (SELECT CAST(count(*) - count(DISTINCT cluster_id)
         |    AS BIGINT) AS neardup_excess FROM cc)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM a1
         |  UNION ALL SELECT 'total_chars', total_chars FROM a1
         |  UNION ALL SELECT 'total_words', total_words FROM a1
         |  UNION ALL SELECT 'distinct_words', distinct_words FROM vb
         |  UNION ALL SELECT 'n_langs', n_langs FROM a1
         |  UNION ALL SELECT 'n_sources', n_sources FROM a1
         |  UNION ALL SELECT 'top_lang_docs', top_lang_docs FROM tl
         |  UNION ALL SELECT 'exact_dup_excess', exact_dup_excess FROM a1
         |  UNION ALL SELECT 'neardup_excess', neardup_excess FROM nd
         |  UNION ALL SELECT 'short_docs', short_docs FROM a1
         |  UNION ALL SELECT 'mean_words_x100',
         |    (total_words * 100) // n_docs FROM a1)""".stripMargin,

    // q209: the same planted derivation, then RE2 extraction and
    // order-preserving list ops on the query string
    "q209_url_census" -> {
      import graft.operators.Quality
      val plant =
        s"${normSql("text")} " +
        "|| CASE WHEN doc_id % 4 <> 0 THEN ' see https://sub' " +
        "|| CAST(doc_id % 7 AS VARCHAR) || '.host' " +
        "|| CAST(doc_id % 13 AS VARCHAR) || '.example.com/p/' " +
        "|| CAST(doc_id % 50 AS VARCHAR) || '?utm_source=a&x=' " +
        "|| CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=b&ref=' " +
        "|| CAST(doc_id % 3 AS VARCHAR) ELSE '' END"
      s"""WITH pd AS (SELECT doc_id, $plant AS t FROM documents),
         |u AS (SELECT doc_id,
         |    regexp_extract(t, '${Quality.UrlPattern}', 0) AS url FROM pd),
         |p AS (SELECT doc_id, url,
         |    regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS host,
         |    regexp_extract(url, '\\?([a-z0-9=&_.-]*)', 1) AS qs FROM u)
         |SELECT doc_id, host,
         |  regexp_extract(host, '([a-z0-9-]+\\.[a-z]+)$$', 1) AS domain,
         |  regexp_extract(url, 'https?://[a-z0-9.-]+(/[a-z0-9/._-]*)', 1)
         |    AS path,
         |  array_to_string(list_filter(string_split(qs, '&'),
         |    pp -> NOT starts_with(pp, 'utm_')), '&') AS clean_params,
         |  CAST(CASE WHEN qs = '' THEN 0
         |    ELSE len(string_split(qs, '&')) END AS BIGINT) AS n_params,
         |  CAST(CASE WHEN qs = '' THEN 0
         |    ELSE len(string_split(qs, '&'))
         |      - len(list_filter(string_split(qs, '&'),
         |          pp -> NOT starts_with(pp, 'utm_'))) END AS BIGINT)
         |    AS n_tracking
         |FROM p""".stripMargin
    },

    // q207: pixels → gradient bits → hash → band buckets → hamming,
    // every step exact integer arithmetic on doc_id
    "q207_image_phash_neardup" ->
      s"""WITH dd AS (SELECT doc_id, doc_id // 10 AS dec,
       |      doc_id % 10 AS pert FROM documents WHERE doc_id >= 0),
       |gx AS (SELECT unnest(generate_series(0, 8)) AS x),
       |gy AS (SELECT unnest(generate_series(0, 7)) AS y),
       |px AS (SELECT doc_id, x, y,
       |    (dec * 31 + x * x * (1 + dec % 13) * 3
       |      + y * 7 * (1 + dec % 7) + (x + y + dec) % 11
       |      + CASE WHEN x = 0 AND y = 0 THEN pert ELSE 0 END) % 256 AS p
       |  FROM dd CROSS JOIN gx CROSS JOIN gy),
       |bits AS (SELECT a.doc_id, a.x, a.y,
       |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
       |  FROM px a JOIN px b
       |    ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
       |  WHERE a.x < 8),
       |sig AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN y * 8 + x < 63
       |        THEN bit * (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END)
       |      + CASE WHEN max(CASE WHEN y * 8 + x = 63 THEN bit
       |          ELSE 0 END) = 1
       |        THEN (-9223372036854775807 - 1) ELSE 0 END AS BIGINT) AS h
       |  FROM bits GROUP BY 1),
       |bnd AS (SELECT doc_id, h, bb.band,
       |    (h >> (bb.band * 16)) & 65535 AS bkey
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bb(band)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.h AS ha, b.h AS hb
       |  FROM bnd a JOIN bnd b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,

    // q205: the q26 3-gram shingle-KEY chain, then first-sighting =
    // min doc_id per key and the per-doc seen-before tally — every
    // step exact int64, floor-div scaled novelty
    "q205_ngram_novelty" ->
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
       |             AS ws FROM documents),
       |wh AS (SELECT doc_id, list_transform(ws, w -> ${wordHashSql("w")})
       |       AS hs FROM w),
       |shk AS (SELECT DISTINCT doc_id,
       |    (((hs[i] * 31 + hs[i+1]) % 1000000007) * 31 + hs[i+2])
       |      % 1000000007 AS k
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - 2))
       |          AS i
       |        FROM wh WHERE len(hs) >= 3)),
       |f AS (SELECT k, min(doc_id) AS first_id FROM shk GROUP BY 1)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN f.first_id < s.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_seen_before,
       |  CAST(((count(*) - sum(CASE WHEN f.first_id < s.doc_id
       |      THEN 1 ELSE 0 END)) * 10000) // count(*) AS BIGINT)
       |    AS novelty_x10k
       |FROM shk s JOIN f ON s.k = f.k
       |GROUP BY 1""".stripMargin,

    "q27_simhash" ->
      s"""WITH $simhashSigSql
         |SELECT doc_id, simhash FROM sig""".stripMargin,

    // The metadata the REAL WAV round-trip must recover, predicted
    // arithmetically (doc_id >= 0, so % is exact on both engines).
    "q80_audio_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(100 + doc_id % 400 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    // The metadata the REAL RIFF/AVI chunk walk must recover, predicted
    // arithmetically from the synthesis parameters.
    "q100_video_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS width,
        |  CAST(6 + (doc_id % 3) * 2 AS BIGINT) AS height,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id >= 0""".stripMargin,

    // The pixel sums the REAL per-frame JPEG decode must recover:
    // frame f of doc_id is uniform gray (doc_id%251 + 17f) mod 256, so
    // pix_sum = w·h·Σ_f value — exact because quality-1.0 uniform-gray
    // JPEG round-trips losslessly (MultimodalSpec pins all 256 values).
    "q106_mjpeg_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS width,
        |  CAST(6 + (doc_id % 3) * 2 AS BIGINT) AS height,
        |  CAST(1 + doc_id % 5 AS BIGINT) AS n_frames,
        |  CAST((8 + (doc_id % 4) * 4) * (6 + (doc_id % 3) * 2) *
        |    list_sum(list_transform(
        |      generate_series(0, CAST(doc_id % 5 AS BIGINT)),
        |      f -> (doc_id % 251 + 17 * f) % 256))
        |    AS BIGINT) AS pix_sum
        |FROM documents WHERE doc_id >= 0""".stripMargin,

    // simhashPairs(maxHamming=3): 16-bit band bucket join (pigeonhole-
    // exact over 4 disjoint bands), hamming cut before distinct.
    "q60_simhash_neardup" ->
      s"""WITH $simhashSigSql,
         |banded AS (SELECT doc_id, simhash, band,
         |    (simhash >> (band * 16)) & 65535 AS bkey
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q20_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(${normSql("text")}, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(${normSql("text")},
         |    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
         |  CAST(length(${normSql("text")}) AS BIGINT) AS n_chars_norm
         |FROM documents""".stripMargin,

    // q262: the q20 per-doc pieces rolled to language grain with the
    // integer fertility ratios.
    "q262_token_fertility" ->
      s"""WITH tf AS (SELECT lang,
         |    CAST(len(string_split(${normSql("text")}, ' ')) AS BIGINT)
         |      AS nw,
         |    CAST(len(regexp_extract_all(${normSql("text")},
         |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt,
         |    CAST(length(${normSql("text")}) AS BIGINT) AS nc
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nt) * 10000 // sum(nw) AS BIGINT) AS fertility_x10k,
         |  CAST(sum(nc) * 10000 // sum(nt) AS BIGINT)
         |    AS chars_per_tok_x10k
         |FROM tf GROUP BY 1""".stripMargin,

    "q21_doc_quality" ->
      s"""WITH t AS (SELECT doc_id, ${normSql("text")} AS n,
         |  string_split(${normSql("text")}, ' ') AS w FROM documents),
         |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |  $stopRatioSql AS stop_ratio,
         |  round(CAST(length(n) - (len(w) - 1) AS DOUBLE) / len(w), 4)
         |    AS avg_word_len
         |  FROM t)
         |SELECT doc_id, n_words, stop_ratio, avg_word_len,
         |  ${qualitySql("n_words", "stop_ratio")} AS quality
         |FROM f""".stripMargin,

    "q73_stratified_sample" ->
      s"""WITH h AS (SELECT source, doc_id,
        |  ${lcgHashSql("doc_id")} AS h
        |  FROM documents WHERE doc_id >= 0),
        |r AS (SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |    AS BIGINT) AS rk FROM h)
        |SELECT source, doc_id, rk FROM r WHERE rk <= 20""".stripMargin,

    "q74_quality_stratum" ->
      s"""WITH t AS (SELECT doc_id, source, ${normSql("text")} AS n,
         |  string_split(${normSql("text")}, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, source,
         |  ${qualitySql("len(w)", stopRatioSql)} AS quality
         |  FROM t),
         |r AS (SELECT source, doc_id, quality,
         |  percent_rank() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS pr FROM q)
         |SELECT source, doc_id, quality FROM r WHERE pr <= 0.25""".stripMargin,

    // q154: the decile arithmetic replayed over a plain global-window
    // rank — DuckDB can afford the single-reducer form the Spark side
    // deliberately avoids.
    "q154_quality_curriculum" ->
      s"""WITH t AS (SELECT doc_id,
         |  string_split(${normSql("text")}, ' ') AS w FROM documents),
         |q AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |  ${qualitySql("len(w)", stopRatioSql)} AS quality
         |  FROM t WHERE len(w) > 0),
         |r AS (SELECT doc_id, n_words, quality,
         |  row_number() OVER (ORDER BY quality, doc_id) AS rank FROM q),
         |n AS (SELECT count(*) AS n_total FROM q)
         |SELECT CAST(((rank - 1) * 10) // n_total AS BIGINT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS sum_words,
         |  min(quality) AS min_quality,
         |  max(quality) AS max_quality
         |FROM r, n GROUP BY 1""".stripMargin,

    "q75_chunk_plan" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(${normSql("text")}, ' ')) AS BIGINT)
         |    AS n_words FROM documents),
         |g AS (SELECT doc_id, n_words,
         |  unnest(generate_series(0, greatest(n_words - 11, 0), 40))
         |    AS start_tok
         |  FROM t WHERE n_words > 0)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
         |    - 1 AS BIGINT) AS chunk_idx,
         |  start_tok,
         |  least(50, n_words - start_tok) AS n_tok
         |FROM g""".stripMargin,

    "q76_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(${normSql("text")}, ' ')) AS BIGINT)
         |    AS n_tok,
         |  ${lcgHashSql("doc_id")} AS h
         |  FROM documents WHERE doc_id >= 0),
         |c AS (SELECT source, doc_id, n_tok,
         |  sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum_tok FROM t)
         |SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= 800""".stripMargin,

    "q77_repetition_signals" ->
      s"""WITH w AS (SELECT doc_id,
         |  unnest(string_split(${normSql("text")}, ' ')) AS word
         |  FROM documents),
         |f AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2)
         |SELECT doc_id,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_word_ratio,
         |  round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS type_token_ratio
         |FROM f GROUP BY doc_id""".stripMargin,

    "q79_leakage_safe_split" ->
      s"""WITH t AS (SELECT doc_id,
         |  substr(${normSql("text")}, 1, 80) AS dk
         |  FROM documents WHERE doc_id >= 0),
         |c AS (SELECT doc_id,
         |  min(doc_id) OVER (PARTITION BY dk) AS canon FROM t),
         |b AS (SELECT doc_id, canon,
         |  (${lcgHashSql("canon")}) % 100 AS bucket FROM c)
         |SELECT doc_id, canon,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "q95_source_overlap" ->
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS words
         |           FROM documents),
         |sh5 AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS s
         |        FROM (SELECT doc_id, words,
         |                unnest(generate_series(1, len(words)-4)) AS i
         |              FROM w WHERE len(words) >= 5)),
         |ss AS (SELECT DISTINCT d.source, sh5.s
         |       FROM sh5 JOIN documents d USING (doc_id))
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_shingles
         |FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // q153: the whole KMV pipeline replayed — q95's shingle CTE, the
    // q122 wordHash twin through the q133 mix31 stages, per-source and
    // per-pair-merged k-minima via row_number, and both estimators
    // with the same literal constants and float-op order.
    "q153_kmv_source_ops" -> {
      val hash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(sh, ''), " +
        "c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a * 31 + x) % 1000000007)"
      val Seq(mix1, mix2, mix3) = graft.operators.Sketches.mix31Sql
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS words
         |           FROM documents),
         |sh5 AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS sh
         |        FROM (SELECT doc_id, words,
         |                unnest(generate_series(1, len(words)-4)) AS i
         |              FROM w WHERE len(words) >= 5)),
         |sd AS (SELECT DISTINCT d.source, sh5.sh
         |       FROM sh5 JOIN documents d USING (doc_id)),
         |h0 AS (SELECT source, $hash AS h FROM sd),
         |m1 AS (SELECT source, ${mix1("h")} AS x1 FROM h0),
         |m2 AS (SELECT source, ${mix2("x1")} AS x2 FROM m1),
         |mx AS (SELECT DISTINCT source, ${mix3("x2")} AS h FROM m2),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM mx),
         |sk AS (SELECT source, h FROM r WHERE rn <= 128),
         |nm AS (SELECT DISTINCT source FROM sk),
         |pr AS (SELECT a.source AS ga, b.source AS gb
         |       FROM nm a JOIN nm b ON a.source < b.source),
         |sides AS (
         |  SELECT pr.ga, pr.gb, s.h, 1 AS in_a, 0 AS in_b
         |  FROM pr JOIN sk s ON s.source = pr.ga
         |  UNION ALL
         |  SELECT pr.ga, pr.gb, s.h, 0 AS in_a, 1 AS in_b
         |  FROM pr JOIN sk s ON s.source = pr.gb),
         |mg AS (SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
         |       FROM sides GROUP BY 1, 2, 3),
         |rk AS (SELECT ga, gb, h, in_a, in_b,
         |         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
         |       FROM mg),
         |ag AS (SELECT ga, gb, count(*) AS n,
         |         max(CASE WHEN rn = 128 THEN h END) AS hk,
         |         sum(in_a * in_b) AS n_shared
         |       FROM rk WHERE rn <= 128 GROUP BY 1, 2),
         |est AS (SELECT ga, gb, n, n_shared,
         |          CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
         |               ELSE 127.0 * 2147483648 / hk END AS eu
         |        FROM ag)
         |SELECT ga AS src_a, gb AS src_b,
         |  CAST(n_shared AS BIGINT) AS n_shared_sketch,
         |  round(eu, 3) AS est_union,
         |  round(CASE WHEN n < 128 THEN CAST(n_shared AS DOUBLE)
         |             ELSE n_shared * eu / 128.0 END, 3) AS est_inter
         |FROM est""".stripMargin
    },

    // q158: the PMI pipeline replayed — bigrams via list indexing,
    // first/second-position unigram counts, and the same integer
    // cross-multiplied PMI gate.
    "q158_pmi_collocations" ->
      s"""WITH w AS (SELECT string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |bg AS (SELECT ws[i] || ' ' || ws[i + 1] AS bg,
         |         ws[i] AS x, ws[i + 1] AS y
         |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1))
         |               AS i
         |             FROM w WHERE len(ws) >= 2)),
         |pc AS (SELECT bg, any_value(x) AS x, any_value(y) AS y,
         |         CAST(count(*) AS BIGINT) AS n_xy
         |       FROM bg GROUP BY bg HAVING count(*) >= 5),
         |ux AS (SELECT x AS w, CAST(count(*) AS BIGINT) AS n_x
         |       FROM bg GROUP BY 1),
         |uy AS (SELECT y AS w, CAST(count(*) AS BIGINT) AS n_y
         |       FROM bg GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg)
         |SELECT pc.bg, pc.n_xy, ux.n_x, uy.n_y, t.n_total,
         |  round(CAST(pc.n_xy * t.n_total AS DOUBLE) /
         |    (ux.n_x * uy.n_y), 4) AS lift
         |FROM pc JOIN ux ON ux.w = pc.x JOIN uy ON uy.w = pc.y, t
         |ORDER BY lift DESC, pc.bg LIMIT 50""".stripMargin,

    "q94_chunk_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |d AS (SELECT doc_id, ws, len(ws) AS nw FROM w WHERE len(ws) > 0),
         |c AS (SELECT doc_id, CAST(t.s AS BIGINT) AS start_tok,
         |        array_to_string(ws[t.s + 1 : t.s + 50], ' ') AS chunk
         |      FROM d, unnest(generate_series(0, greatest(nw - 11, 0), 40))
         |             AS t(s)),
         |f AS (SELECT doc_id, start_tok, ${wordHashSql("chunk")} AS fp FROM c),
         |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies FROM f
         |      GROUP BY 1 HAVING count(*) > 1)
         |SELECT f.doc_id, f.start_tok, f.fp, g.n_copies
         |FROM f JOIN g USING (fp)""".stripMargin,

    // Islands on pos − row_number per doc, exactly the Spark merge;
    // generate_series slice indices are 1-based, positions 0-based.
    "q144_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |        array_to_string(ws[i : i + 7], ' ') AS sh
         |      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7))
         |              AS i
         |            FROM t WHERE len(ws) >= 8)),
         |c AS (SELECT sh, CAST(count(*) AS BIGINT) AS n_occ FROM s
         |      GROUP BY 1 HAVING count(*) >= 2),
         |d AS (SELECT s.doc_id, s.pos, c.n_occ,
         |        s.pos - row_number()
         |          OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS grp
         |      FROM s JOIN c USING (sh))
         |SELECT doc_id, min(pos) AS span_start,
         |  max(pos) + 7 AS span_end,
         |  max(pos) - min(pos) + 8 AS span_tokens,
         |  min(n_occ) AS n_copies
         |FROM d GROUP BY doc_id, grp""".stripMargin,

    // q175: the ranking recomputed from the raw documents table —
    // identical BM25 pieces, pivot order, and rank arithmetic as the
    // indexed serve (the index is a pure materialization)
    "q175_bm25_indexed" -> bm25IndexedSql,
    // same final index state by construction -> same replay
    "q212_bm25_incremental" -> bm25IndexedSql,


    // q170: the 5 greedy rounds unrolled — each pick CTE is the
    // (gain DESC, doc_id) argmax over shingles anti-joined against
    // the union of earlier picks' shingles
    "q170_coverage_picks" -> {
      def pick(r: Int) =
        if (r == 1)
          """p1 AS MATERIALIZED (SELECT doc_id,
            |  CAST(count(*) AS BIGINT) AS gain FROM sh GROUP BY 1
            |  ORDER BY gain DESC, doc_id LIMIT 1),
            |c1 AS MATERIALIZED (SELECT DISTINCT s FROM sh
            |  WHERE doc_id IN (SELECT doc_id FROM p1))""".stripMargin
        else
          s"""p$r AS MATERIALIZED (SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS gain
             |  FROM sh ANTI JOIN c${r - 1} USING (s) GROUP BY 1
             |  ORDER BY gain DESC, doc_id LIMIT 1),
             |c$r AS MATERIALIZED (SELECT s FROM c${r - 1}
             |  UNION SELECT s FROM sh
             |  WHERE doc_id IN (SELECT doc_id FROM p$r))""".stripMargin
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS ws FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
         |    array_to_string(ws[i : i + 2], ' ') AS s
         |  FROM (SELECT doc_id, ws,
         |          unnest(generate_series(1, len(ws) - 2)) AS i
         |        FROM t WHERE len(ws) >= 3)),
         |${(1 to 5).map(pick).mkString(",\n")}
         |${(1 to 5).map(r =>
            s"SELECT CAST($r AS BIGINT) AS round, doc_id, gain FROM p$r")
            .mkString("\nUNION ALL\n")}""".stripMargin
    },

    // q184: per-source and global window ranks + the same integer
    // ceil target arithmetic
    "q184_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents
        |           WHERE doc_id >= 0),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
        |          AS n_s FROM d),
        |g AS (SELECT n_chars AS v, CAST(row_number() OVER (
        |        ORDER BY n_chars, doc_id) AS BIGINT) AS rr FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM d)
        |SELECT r.doc_id, r.source, CAST(r.n_chars AS BIGINT) AS n_chars,
        |  CAST(g.v AS BIGINT) AS norm_score
        |FROM r CROSS JOIN t
        |JOIN g ON (r.r * t.n_tot + r.n_s - 1) // r.n_s = g.rr""".stripMargin,

    // q185: the same word count + q118 BPE replace chain + rounded
    // ratio
    "q185_tokenizer_fertility" -> {
      s"""WITH t AS (SELECT source, lang,
         |    CAST(len(string_split(${normSql("text")}, ' ')) AS BIGINT)
         |      AS nw,
         |    ${graft.functions.Bpe.tokenCountSql("text")} AS nt
         |  FROM documents)
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS sum_words,
         |  CAST(sum(nt) AS BIGINT) AS sum_subwords,
         |  round(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 4)
         |    AS fertility
         |FROM t GROUP BY 1, 2""".stripMargin
    },

    // q167: full replay — BM25 ratios pivoted and left-assoc summed,
    // integer tf-idf cosine with the one-division discipline, both
    // top-100 rankings, and the integer RRF fusion
    "q167_rank_fusion" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY 1),
         |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df_
         |        FROM tf GROUP BY 1),
         |dict AS (SELECT term, df_ FROM dfx
         |         ORDER BY df_ DESC, term LIMIT 32),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(dl) AS BIGINT) AS totdl FROM dl),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ratio AS (SELECT doc_id, term,
         |    CAST(44 * tf * totdl * (2 * n_docs - 2 * df_ + 1) AS DOUBLE)
         |    / CAST((2 * df_ + 1) * (20 * totdl * tf + 6 * totdl
         |        + 18 * dl * n_docs) AS DOUBLE) AS r
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term)
         |       CROSS JOIN tot
         |  WHERE term IN ('query', 'merge', 'spark')),
         |piv AS (SELECT doc_id,
         |    coalesce(max(CASE WHEN term = 'query' THEN r END), 0.0) AS r1,
         |    coalesce(max(CASE WHEN term = 'merge' THEN r END), 0.0) AS r2,
         |    coalesce(max(CASE WHEN term = 'spark' THEN r END), 0.0) AS r3
         |  FROM ratio GROUP BY 1),
         |ra AS (SELECT doc_id, ra FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY r1 + r2 + r3 DESC, doc_id) AS BIGINT) AS ra
         |    FROM piv WHERE r1 + r2 + r3 > 0) WHERE ra <= 100),
         |w AS (SELECT doc_id, tf.term, (tf * n * 10) // df_ AS w
         |      FROM tf JOIN dict USING (term) CROSS JOIN nd),
         |dend AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS den_d
         |         FROM w GROUP BY 1),
         |qv AS (SELECT term, (n * 10) // df_ AS wq
         |       FROM dict CROSS JOIN nd
         |       WHERE term IN ('query', 'merge', 'spark')),
         |denq AS (SELECT CAST(sum(wq * wq) AS BIGINT) AS den_q FROM qv),
         |dotp AS (SELECT doc_id, CAST(sum(w * wq) AS BIGINT) AS dot
         |         FROM w JOIN qv USING (term) GROUP BY 1),
         |cosr AS (SELECT doc_id, CAST(dot AS DOUBLE)
         |      / sqrt(CAST(den_d AS DOUBLE) * CAST(den_q AS DOUBLE)) AS cos
         |    FROM dotp JOIN dend USING (doc_id) CROSS JOIN denq
         |    WHERE dot > 0),
         |rb AS (SELECT doc_id, rb FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rb
         |    FROM cosr) WHERE rb <= 100),
         |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |        ra.ra, rb.rb,
         |        coalesce(1000000 // (60 + ra.ra), 0)
         |          + coalesce(1000000 // (60 + rb.rb), 0) AS rrf
         |      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id, ra, rb, CAST(rrf AS BIGINT) AS rrf, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank FROM f)
         |WHERE rank <= 10""".stripMargin,

    // q166: the full cdc replay — token polyhash values, the 3-term
    // window hash, boundary flags, running chunk ids, ordered chunk
    // reassembly, and the dup-group fingerprints
    "q166_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS ws FROM documents),
         |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(string_split(ws[i], ''),
         |             c -> CAST(ascii(c) AS BIGINT))),
         |           (acc, x) -> (acc * 31 + x) % 1000000007) AS v,
         |         ws[i] AS tk
         |       FROM (SELECT doc_id, ws,
         |               unnest(generate_series(1, len(ws))) AS i FROM t)),
         |h AS (SELECT doc_id, pos, tk,
         |        CASE WHEN pos >= 2 THEN
         |          ((lag(v, 2) OVER w * 770526733) % 1000000007
         |           + (lag(v, 1) OVER w * 69069) % 1000000007 + v)
         |          % 1000000007
         |        END AS hh
         |      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cid AS (SELECT doc_id, pos, tk,
         |          coalesce(sum(CASE WHEN hh IS NOT NULL AND hh % 16 = 0
         |                            THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY pos
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            0) AS cid
         |        FROM h),
         |ch AS (SELECT doc_id, cid,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         string_agg(tk, ' ' ORDER BY pos) AS chunk_text
         |       FROM cid GROUP BY 1, 2),
         |g AS (SELECT chunk_text, CAST(count(*) AS BIGINT) AS n_copies,
         |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |        min(n_tokens) AS n_tokens, min(doc_id) AS min_doc
         |      FROM ch GROUP BY 1
         |      HAVING count(*) >= 2 AND min(n_tokens) >= 4)
         |SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(chunk_text, ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_fp,
         |  n_tokens, n_copies, n_docs, min_doc FROM g""".stripMargin,

    "q93_entity_resolution" ->
      s"""WITH RECURSIVE $shSql,
         |cnt AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |ed AS (SELECT co.id_a AS a, co.id_b AS b
         |       FROM co JOIN cnt ca ON co.id_a = ca.doc_id
         |               JOIN cnt cb ON co.id_b = cb.doc_id
         |       WHERE round(CAST(co.co AS DOUBLE)
         |         / (ca.sz + cb.sz - co.co), 4) >= 0.8),
         |adj AS (SELECT a AS s, b AS d FROM ed
         |        UNION SELECT b AS s, a AS d FROM ed),
         |verts AS (SELECT DISTINCT s AS v FROM adj),
         |reach(v, u) AS (SELECT v, v FROM verts
         |  UNION
         |  SELECT r.v, adj.d FROM reach r JOIN adj ON r.u = adj.s),
         |comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v),
         |assign AS (SELECT d.doc_id,
         |    CAST(coalesce(comp.c, d.doc_id) AS BIGINT) AS canonical_id
         |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.v),
         |sizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT)
         |            AS n_members FROM assign GROUP BY 1)
         |SELECT a.doc_id, a.canonical_id, s.n_members
         |FROM assign a JOIN sizes s ON a.canonical_id = s.canonical_id""".stripMargin,

    "q88_bm25_topterms" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS word
         |  FROM documents),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |       FROM toks GROUP BY 1),
         |dfx AS (SELECT word, CAST(count(*) AS BIGINT) AS df_
         |        FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(dl) AS BIGINT) AS totdl FROM dl),
         |scored AS (SELECT doc_id, word,
         |    CAST(44 * tf * totdl * (2 * n_docs - 2 * df_ + 1) AS BIGINT)
         |      AS score_num,
         |    CAST((2 * df_ + 1) * (20 * totdl * tf + 6 * totdl
         |      + 18 * dl * n_docs) AS BIGINT) AS score_den
         |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (word)
         |       CROSS JOIN tot)
         |SELECT doc_id, word, score_num, score_den, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY CAST(score_num AS DOUBLE) / CAST(score_den AS DOUBLE)
         |             DESC, word) AS BIGINT) AS rn FROM scored)
         |WHERE rn <= 3""".stripMargin,

    "q86_weighted_sample" ->
      s"""WITH c AS (SELECT doc_id, n_chars,
         |    sum(n_chars) OVER (ORDER BY ${lcgHashSql("doc_id")}, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents WHERE doc_id >= 0),
         |t AS (SELECT greatest(1, sum(n_chars) // 200) AS stride
         |      FROM documents WHERE doc_id >= 0)
         |SELECT doc_id, n_chars, CAST(cum AS BIGINT) AS cum
         |FROM c, t
         |WHERE cum // stride > (cum - n_chars) // stride""".stripMargin,

    "q82_pii_redaction" ->
      """WITH r AS (SELECT doc_id,
        |    concat_ws(' ', text,
        |      'contact user' || doc_id || '@mail-' || source || '.com tel +01-'
        |      || lpad(CAST((doc_id * 7919) % 10000000 AS VARCHAR), 7, '0'))
        |      AS raw
        |  FROM documents WHERE doc_id >= 0)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\+[0-9]{2}-[0-9]{7}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(raw,
        |      '[a-z0-9]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{2}-[0-9]{7}', '<PHONE>', 'g') AS redacted
        |FROM r""".stripMargin,

    "q22_lang_id" ->
      s"""WITH t AS (SELECT lang,
         |    string_split(${normSql("text")}, ' ') AS w FROM documents),
         |sc AS (SELECT lang,
         |  len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS s_en,
         |  len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |  len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |  len(list_filter(w, x -> x IN ('el','los','las','y','es'))) AS s_es
         |  FROM t)
         |SELECT lang,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS predicted,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM sc GROUP BY 1, 2""".stripMargin,

    "q23_fingerprint" ->
      s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(${normSql("text")}, ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         |FROM documents""".stripMargin,

    "q24_dedup_prefix" ->
      s"""SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM documents
         |GROUP BY substr(${normSql("text")}, 1, 80)
         |HAVING count(*) > 1""".stripMargin,

    "q65_decontamination" ->
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS words
         |           FROM documents),
         |sh5 AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS s
         |        FROM (SELECT doc_id, words,
         |                unnest(generate_series(1, len(words)-4)) AS i
         |              FROM w WHERE len(words) >= 5)),
         |b AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 50 = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
         |FROM sh5 JOIN b USING (s)
         |WHERE doc_id % 50 <> 0
         |GROUP BY doc_id""".stripMargin,

    // q195: the q65 split replayed on the portable 5-gram shingle-KEY
    // chain (word polyHash → 5-slot fold, all exact int64 mod
    // arithmetic) with the per-doc census shape — zero-hit corpus docs
    // included via the LEFT join.
    "q195_contamination_census" -> {
      s"""WITH ${shingleKeyChainSql("doc_id % 50 <> 0", "c")},
         |${shingleKeyChainSql("doc_id % 50 = 0", "b")},
         |bk AS (SELECT DISTINCT k FROM shkb),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |        FROM shkc GROUP BY 1),
         |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |        FROM shkc JOIN bk USING (k) GROUP BY 1)
         |SELECT doc_id, n_shingles,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN coalesce(n_hit, 0) >= 1 THEN 1 ELSE 0 END
         |    AS BIGINT) AS contaminated
         |FROM tot LEFT JOIN hit USING (doc_id)""".stripMargin
    },

    // q198: the q195 chain reused verbatim (shared CTE builder), the
    // contaminated set as a NOT IN filter, then the q126 budget-fill
    // replay (token-count twin, lcg-hash order, integer cut) per
    // source at the 1/2 clean-mass budget.
    "q198_decontaminated_mix" ->
      s"""WITH ${shingleKeyChainSql("doc_id % 50 <> 0", "c")},
         |${shingleKeyChainSql("doc_id % 50 = 0", "b")},
         |bk AS (SELECT DISTINCT k FROM shkb),
         |bad AS (SELECT DISTINCT doc_id FROM shkc JOIN bk USING (k)),
         |cln AS (SELECT doc_id, source,
         |    CAST(${graft.functions.Bpe.tokenCountSql("text")} AS BIGINT)
         |      AS n_tokens
         |  FROM documents WHERE doc_id % 50 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM bad)),
         |st AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |       FROM cln GROUP BY 1),
         |cc AS (SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY ${lcgHashSql("doc_id")}, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM cln)
         |SELECT cc.doc_id, cc.source, cc.n_tokens, cc.cum_tokens
         |FROM cc JOIN st USING (source)
         |WHERE cum_tokens * 2 <= src_tokens""".stripMargin,

    // q201: the same planted derivation, DuckDB's RE2 on the same
    // ASCII patterns (Quality.Pii* literals), counts via
    // regexp_extract_all length and the same 3-step redaction chain
    // (emails, then IPs, then phones).
    "q201_pii_census" -> {
      import graft.operators.Quality
      // single-line on purpose: this fragment is interpolated into a
      // stripMargin string below, and pre-stripped lines whose content
      // starts with the || operator would be re-stripped into garbage
      val plant =
        s"${normSql("text")} " +
        "|| CASE WHEN doc_id % 7 = 0 THEN ' contact user' " +
        "|| CAST(doc_id % 100 AS VARCHAR) || '@example.com' " +
        "ELSE '' END " +
        "|| CASE WHEN doc_id % 11 = 0 THEN ' call 555-' " +
        "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') " +
        "ELSE '' END " +
        "|| CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' " +
        "|| CAST(doc_id % 256 AS VARCHAR) || '.' " +
        "|| CAST((doc_id // 256) % 256 AS VARCHAR) " +
        "ELSE '' END"
      s"""WITH pd AS (SELECT doc_id, $plant AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Quality.PiiEmail}'))
         |    AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Quality.PiiPhone}'))
         |    AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Quality.PiiIp}'))
         |    AS BIGINT) AS n_ips,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Quality.PiiEmail}', '<pii>', 'g'),
         |    '${Quality.PiiIp}', '<pii>', 'g'),
         |    '${Quality.PiiPhone}', '<pii>', 'g')) AS BIGINT)
         |    AS redacted_len
         |FROM pd""".stripMargin
    },

    "q66_tfidf_topterms" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS word
         |  FROM documents),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dfx AS (SELECT word, CAST(count(*) AS BIGINT) AS df_
         |        FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, word,
         |    CAST(tf * n_docs AS DOUBLE) / CAST(df_ AS DOUBLE) AS score
         |  FROM tf JOIN dfx USING (word) CROSS JOIN n)
         |SELECT doc_id, word, score, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS BIGINT) AS rn FROM scored)
         |WHERE rn <= 3""".stripMargin,

    "q49_name_edit_distance" ->
      """SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // The one-hot histograms the REAL per-frame decode must recover:
    // frame f of doc_id is uniform gray v = (doc_id%251 + 17f) mod 256
    // and every pixel's rec601 luminance of (v,v,v) is exactly v, so
    // the normalized 16-bin histogram is 1.0 at bin v//16.
    "q112_video_frame_embeddings" ->
      """SELECT media_id, frame_idx,
        |  CAST((((media_id % 251) + 17 * frame_idx) % 256) // 16
        |    AS BIGINT) AS bin,
        |  CAST(1.0 AS DOUBLE) AS weight
        |FROM (SELECT doc_id AS media_id,
        |        unnest(generate_series(0, CAST(doc_id % 5 AS BIGINT)))
        |          AS frame_idx
        |      FROM documents WHERE doc_id >= 0)""".stripMargin,

    "q111_sorted_neighborhood" ->
      """WITH r AS (SELECT c_custkey, c_name,
        |    row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |  FROM customer),
        |cand AS (SELECT a.c_custkey AS ka, a.c_name AS na,
        |    b.c_custkey AS kb, b.c_name AS nb
        |  FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 5)
        |SELECT least(ka, kb) AS k1, greatest(ka, kb) AS k2,
        |  CAST(levenshtein(na, nb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin,

    "q54_inverted_index" ->
      s"""WITH p AS (SELECT DISTINCT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS word
         |  FROM documents)
         |SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |    AS posting_list
         |FROM p GROUP BY word""".stripMargin,

    "q63_media_decode" ->
      """WITH m AS (SELECT doc_id, CAST(doc_id AS VARCHAR) || 'xyz' AS s
        |           FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(16 * (1 + (ascii(substr(s, 1, 1)) & 63)) AS BIGINT) AS width,
        |  CAST(16 * (1 + (ascii(substr(s, 2, 1)) & 63)) AS BIGINT) AS height,
        |  CAST(1 + (ascii(substr(s, 3, 1)) & 127) AS BIGINT) AS n_frames
        |FROM m""".stripMargin,

    "q59_invindex_roundtrip" ->
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS w
         |           FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS index_length,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS n_terms,
         |  CAST(len(w) AS BIGINT) AS n_positions
         |FROM t""".stripMargin,

    "q25_ngram_jaccard" ->
      s"""WITH $shSql,
         |cnt AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT co.id_a, co.id_b,
         |  round(CAST(co.co AS DOUBLE) / (ca.sz + cb.sz - co.co), 4) AS jaccard
         |FROM co JOIN cnt ca ON co.id_a = ca.doc_id
         |        JOIN cnt cb ON co.id_b = cb.doc_id
         |WHERE round(CAST(co.co AS DOUBLE) / (ca.sz + cb.sz - co.co), 4) >= 0.4""".stripMargin,

    // q203: the exact ORDERED containment relation — co-counts over
    // every shingle-sharing pair in both directions, τ = 7/10 as pure
    // integer compares, floor-div scaled containment (DuckDB // ≡ the
    // Spark floor(exact-double division) at these magnitudes)
    "q203_containment_pairs" ->
      s"""WITH $shSql,
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |        FROM sh GROUP BY 1),
         |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS co
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |       GROUP BY 1, 2)
         |SELECT co.id_a, co.id_b, co.co AS n_shared, ca.sz AS sz_a,
         |  CAST((co.co * 10000) // ca.sz AS BIGINT) AS c_x10k
         |FROM co JOIN cnt ca ON co.id_a = ca.doc_id
         |WHERE co.co * 10 >= 7 * ca.sz""".stripMargin,

    // mechanical replay of the Bpe replace chain (same merge table,
    // chr(31)/chr(30) delimiters), then the same half-corpus fill
    "q118_bpe_budget" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(${graft.functions.Bpe.tokenCountSql("text")} AS BIGINT)
         |    AS n_tokens
         |  FROM documents WHERE doc_id >= 0),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
         |SELECT doc_id, n_tokens, cum_tokens
         |FROM c WHERE 2 * cum_tokens <= (SELECT sum(n_tokens) FROM t)""".stripMargin,

    // q128: every stage reuses its standalone oracle's expression —
    // q22's CASE chain, q21's rounded quality, q77's rounded top-word
    // ratio, q24's prefix-80 dup key — under progressive conjunction.
    "q128_curation_funnel" ->
      s"""WITH t AS (SELECT doc_id, ${normSql("text")} AS n,
         |             string_split(${normSql("text")}, ' ') AS w
         |           FROM documents WHERE doc_id >= 0),
         |sc AS (SELECT doc_id, n, w, CAST(len(w) AS BIGINT) AS nw,
         |  len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS s_en,
         |  len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |  len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |  len(list_filter(w, x -> x IN ('el','los','las','y','es'))) AS s_es
         |  FROM t),
         |fl AS (SELECT doc_id,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang,
         |  ${qualitySql("nw",
                "round(CAST(s_en AS DOUBLE) / len(w), 4)")} AS quality,
         |  substring(n, 1, 80) AS dup_key
         |  FROM sc),
         |k AS (SELECT *,
         |    min(doc_id) OVER (PARTITION BY dup_key) = doc_id AS is_keep
         |  FROM fl),
         |wc AS (SELECT doc_id, word, count(*) AS c
         |       FROM (SELECT doc_id, unnest(w) AS word FROM t) GROUP BY 1, 2),
         |tw AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4)
         |         AS twr FROM wc GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_lang,
         |  CAST(sum(CASE WHEN pred_lang = 'en' AND quality >= 0.3
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN pred_lang = 'en' AND quality >= 0.3
         |    AND twr <= 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS n_derep,
         |  CAST(sum(CASE WHEN pred_lang = 'en' AND quality >= 0.3
         |    AND twr <= 0.12 AND is_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_final
         |FROM k JOIN tw USING (doc_id)""".stripMargin,

    // q124: same weights, same LCG order, same integer-div quotas.
    // DuckDB's sum(BIGINT) widens to HUGEINT — harmless under // and
    // the <= comparison.
    "q124_mixture_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             (CAST(substring(source, 4) AS BIGINT) % 4) + 1 AS w
         |           FROM documents WHERE doc_id >= 0),
         |t AS (SELECT (SELECT count(*) // 2 FROM d) AS s_target,
         |             (SELECT sum(w) FROM (SELECT DISTINCT source, w
         |                                  FROM d)) AS w_total),
         |r AS (SELECT doc_id, source, w,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY ${lcgHashSql("doc_id")}, doc_id) AS BIGINT) AS rn
         |      FROM d)
         |SELECT r.doc_id, r.source, r.rn
         |FROM r, t WHERE r.rn <= (t.s_target * r.w) // t.w_total""".stripMargin,

    // q126: q124's weights and order, q118's BPE token counts, and the
    // same integer cross-multiplied keep decision.
    "q126_token_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             (CAST(substring(source, 4) AS BIGINT) % 4) + 1 AS w,
         |             CAST(${graft.functions.Bpe.tokenCountSql("text")}
         |               AS BIGINT) AS n_tokens
         |           FROM documents WHERE doc_id >= 0),
         |t AS (SELECT (SELECT sum(n_tokens) FROM d) AS total_tokens,
         |             (SELECT sum(w) FROM (SELECT DISTINCT source, w
         |                                  FROM d)) AS w_total),
         |c AS (SELECT doc_id, source, w, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY ${lcgHashSql("doc_id")}, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM d)
         |SELECT doc_id, source, n_tokens, cum_tokens
         |FROM c, t WHERE cum_tokens * 2 * w_total <= total_tokens * w""".stripMargin,

    // q155: q126's replay with the isqrt weight CTE — the same
    // floor(sqrt) + ±1 integer correction Relational.isqrt applies.
    "q155_temperature_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             CAST(${graft.functions.Bpe.tokenCountSql("text")}
         |               AS BIGINT) AS n_tokens
         |           FROM documents WHERE doc_id >= 0),
         |sw0 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |        FROM d GROUP BY 1),
         |sw1 AS (SELECT source, src_tokens,
         |          CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT)
         |            AS s0
         |        FROM sw0),
         |sw AS (SELECT source,
         |         CASE WHEN s0 * s0 > src_tokens THEN s0 - 1
         |              WHEN (s0 + 1) * (s0 + 1) <= src_tokens THEN s0 + 1
         |              ELSE s0 END AS w
         |       FROM sw1),
         |t AS (SELECT (SELECT sum(n_tokens) FROM d) AS total_tokens,
         |             (SELECT sum(w) FROM sw) AS w_total),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY ${lcgHashSql("doc_id")}, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM d)
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
         |  CAST(sw.w AS BIGINT) AS w
         |FROM c JOIN sw USING (source), t
         |WHERE cum_tokens * 2 * w_total <= total_tokens * w""".stripMargin,

    // q146: q22's stopword-score CASE composed with q126's window
    // arithmetic, partitioned by the PREDICTED language.
    "q146_language_mixture" ->
      s"""WITH t0 AS (SELECT doc_id, text,
         |    string_split(${normSql("text")}, ' ') AS w
         |  FROM documents WHERE doc_id >= 0),
         |sc AS (SELECT doc_id, text,
         |  len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS s_en,
         |  len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |  len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |  len(list_filter(w, x -> x IN ('el','los','las','y','es'))) AS s_es
         |  FROM t0),
         |d AS (SELECT doc_id,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  CAST(${graft.functions.Bpe.tokenCountSql("text")}
         |    AS BIGINT) AS n_tokens
         |  FROM sc),
         |d2 AS (SELECT *, CASE lang_pred WHEN 'en' THEN 4
         |         WHEN 'de' THEN 3 WHEN 'fr' THEN 2 ELSE 1 END AS w
         |       FROM d),
         |t AS (SELECT (SELECT sum(n_tokens) FROM d2) AS total_tokens,
         |             (SELECT sum(w) FROM (SELECT DISTINCT lang_pred, w
         |                                  FROM d2)) AS w_total),
         |c AS (SELECT doc_id, lang_pred, n_tokens, w,
         |        CAST(sum(n_tokens) OVER (PARTITION BY lang_pred
         |          ORDER BY ${lcgHashSql("doc_id")}, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |      FROM d2)
         |SELECT doc_id, lang_pred, n_tokens, cum_tokens
         |FROM c, t WHERE cum_tokens * 2 * w_total <= total_tokens * w""".stripMargin,

    // q152: the vectorization retrained in SQL — same dictionary
    // ranks, same integer weights, same dense zero-filled lists, the
    // q56 rounded list-cosine discipline for the pair join.
    "q152_tfidf_neardup" ->
      s"""WITH tk AS (SELECT doc_id,
         |    unnest(string_split(${normSql("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
         |        GROUP BY 1),
         |dict AS (SELECT * FROM (SELECT term, df,
         |    row_number() OVER (ORDER BY df DESC, term) AS rank FROM dfq) dd
         |  WHERE rank <= 32),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |w AS (SELECT tf.doc_id, dict.rank,
         |        (tf.tf * n.n * 10) // dict.df AS w
         |      FROM tf JOIN dict USING (term) CROSS JOIN n),
         |ids AS (SELECT DISTINCT doc_id FROM w),
         |grid AS (SELECT ids.doc_id, g.r
         |         FROM ids, (SELECT unnest(generate_series(1, 32)) AS r) g),
         |v AS (SELECT grid.doc_id,
         |        list(CAST(coalesce(w.w, 0) AS DOUBLE) ORDER BY grid.r)
         |          AS tv
         |      FROM grid LEFT JOIN w ON grid.doc_id = w.doc_id
         |                           AND grid.r = w.rank
         |      GROUP BY grid.doc_id)
         |SELECT id_a, id_b, cos FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(list_cosine_similarity(a.tv, b.tv), 4) AS cos
         |  FROM v a JOIN v b ON a.doc_id < b.doc_id) p
         |WHERE cos >= 0.9""".stripMargin,

    // q150: canonical election by row_number within each duplicated
    // shingle group, then the interval merge on the running max end —
    // window frames chosen to match Spark's defaults (no ties: each
    // (doc, pos) starts exactly one shingle).
    "q150_span_cuts" ->
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS ws FROM documents),
         |s AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |        array_to_string(ws[i : i + 7], ' ') AS sh
         |      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7))
         |              AS i
         |            FROM t WHERE len(ws) >= 8)),
         |c AS (SELECT sh FROM s GROUP BY sh HAVING count(*) >= 2),
         |d AS (SELECT s.doc_id, s.pos, row_number()
         |          OVER (PARTITION BY s.sh ORDER BY s.doc_id, s.pos) AS occ
         |      FROM s JOIN c USING (sh)),
         |cu AS (SELECT doc_id, pos AS st, pos + 7 AS en FROM d
         |       WHERE occ > 1),
         |m AS (SELECT doc_id, st, en,
         |        CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id
         |            ORDER BY st, en
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |          THEN 1 ELSE 0 END AS opens
         |      FROM cu),
         |g AS (SELECT doc_id, st, en,
         |        sum(opens) OVER (PARTITION BY doc_id ORDER BY st, en) AS grp
         |      FROM m)
         |SELECT doc_id, min(st) AS cut_start, max(en) AS cut_end,
         |  max(en) - min(st) + 1 AS cut_tokens
         |FROM g GROUP BY doc_id, grp""".stripMargin,

    // q148: the bigram model retrained in SQL — prefix-denominated
    // conditional counts, the same scaled integer div per occurrence,
    // the same mean-by-floor-div per doc.
    "q148_lm_quality" ->
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS ws FROM documents),
         |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
         |      FROM (SELECT doc_id, ws,
         |              unnest(generate_series(1, len(ws) - 1)) AS i
         |            FROM t WHERE len(ws) >= 2)),
         |u AS (SELECT w1, count(*) AS cu FROM b GROUP BY 1),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
         |p AS (SELECT b.doc_id,
         |        (bi.cb * ${graft.operators.Quality.LmScale}) // (u.cu + 1)
         |          AS p
         |      FROM b JOIN bi USING (w1, w2) JOIN u USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(p) // count(*) AS BIGINT) AS lm_score
         |FROM p GROUP BY doc_id""".stripMargin,

    // q189: the trigram model retrained in SQL — same tokenize, the
    // three count tables, the context-gated CASE between the
    // discounted trigram conditional and the 2/5-penalized bigram
    // backoff, the same mean-by-floor-div per doc.
    "q189_lm3_quality" -> {
      val S = graft.operators.Quality.LmScale
      val cmin = graft.operators.Quality.Lm3ContextMin
      val bn = graft.operators.Quality.Lm3BackoffNum
      val bd = graft.operators.Quality.Lm3BackoffDen
      s"""WITH t AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS ws FROM documents),
         |tok AS (SELECT doc_id, ws[i] AS w1,
         |          CASE WHEN i + 1 <= len(ws) THEN ws[i + 1] END AS w2,
         |          CASE WHEN i + 2 <= len(ws) THEN ws[i + 2] END AS w3
         |        FROM (SELECT doc_id, ws,
         |                unnest(generate_series(1, len(ws))) AS i
         |              FROM t)),
         |tg AS (SELECT doc_id, w1, w2, w3 FROM tok WHERE w3 IS NOT NULL),
         |u AS (SELECT w1, count(*) AS cu FROM tok GROUP BY 1),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM tok
         |       WHERE w2 IS NOT NULL GROUP BY 1, 2),
         |tri AS (SELECT w1, w2, w3, count(*) AS ct FROM tg GROUP BY 1, 2, 3),
         |p AS (SELECT tg.doc_id,
         |        CASE WHEN b12.cb >= $cmin
         |             THEN (tri.ct * $S) // (b12.cb + 1)
         |             ELSE ($bn * ((b23.cb * $S) // (u2.cu + 1))) // $bd
         |        END AS p
         |      FROM tg JOIN tri USING (w1, w2, w3)
         |      JOIN bi b12 ON tg.w1 = b12.w1 AND tg.w2 = b12.w2
         |      JOIN bi b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
         |      JOIN u u2 ON tg.w2 = u2.w1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(p) // count(*) AS BIGINT) AS lm3_score
         |FROM p GROUP BY doc_id""".stripMargin
    },

    // q122: FULL replay of the Count-Min matrix — every cell (per-depth
    // PolyHash-mod-width bucket counts) and every estimate (least over
    // depth cells) recomputed in exact int64 arithmetic.
    "q122_countmin_bigrams" ->
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ')
         |             AS words FROM documents),
         |b AS (SELECT array_to_string(words[i:i+1], ' ') AS bg
         |      FROM (SELECT doc_id, words,
         |              unnest(generate_series(1, len(words)-1)) AS i
         |            FROM w WHERE len(words) >= 2)),
         |c0 AS (SELECT ${wordHashSql("bg", 31)} % $CmWidth AS cell,
         |         count(*) AS c FROM b GROUP BY 1),
         |c1 AS (SELECT ${wordHashSql("bg", 37)} % $CmWidth AS cell,
         |         count(*) AS c FROM b GROUP BY 1),
         |c2 AS (SELECT ${wordHashSql("bg", 41)} % $CmWidth AS cell,
         |         count(*) AS c FROM b GROUP BY 1),
         |k AS (SELECT bg, CAST(count(*) AS BIGINT) AS exact_cnt
         |      FROM b GROUP BY 1)
         |SELECT k.bg, CAST(least(e0.c, e1.c, e2.c) AS BIGINT) AS est_cnt,
         |  k.exact_cnt, least(e0.c, e1.c, e2.c) > k.exact_cnt AS collided
         |FROM k
         |JOIN c0 e0 ON e0.cell = ${wordHashSql("k.bg", 31)} % $CmWidth
         |JOIN c1 e1 ON e1.cell = ${wordHashSql("k.bg", 37)} % $CmWidth
         |JOIN c2 e2 ON e2.cell = ${wordHashSql("k.bg", 41)} % $CmWidth""".stripMargin,

    // q137: the exact answer the MG-then-recount pipeline must equal —
    // plain GROUP BY ... HAVING with the identical integer-exact
    // ceil(n/100) threshold over non-null word occurrences.
    "q137_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(${normSql("text")}, ' '))
         |             AS word FROM documents),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w
         |      WHERE word IS NOT NULL)
         |SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |FROM w, t WHERE word IS NOT NULL
         |GROUP BY word, n
         |HAVING CAST(count(*) AS BIGINT) >= (1 * n + 99) // 100""".stripMargin,

    // q138: q75's chunk arithmetic replayed in BPE-token units — the
    // denominator is the full tokenCountSql replace chain.
    "q138_chunk_plan_tokens" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(${graft.functions.Bpe.tokenCountSql("text")} AS BIGINT)
         |    AS n_tokens FROM documents),
         |g AS (SELECT doc_id, n_tokens,
         |  unnest(generate_series(0, greatest(n_tokens - 11, 0), 40))
         |    AS start_tok
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
         |    - 1 AS BIGINT) AS chunk_idx,
         |  start_tok,
         |  least(50, n_tokens - start_tok) AS n_tok
         |FROM g""".stripMargin,

    // q139: every cut replayed — same LCG concatenation order, same
    // integer floor-division sequence assignment, same span clamps.
    "q139_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(${graft.functions.Bpe.tokenCountSql("text")} AS BIGINT)
         |    AS n_tokens,
         |  ${lcgHashSql("doc_id")} AS h
         |  FROM documents WHERE doc_id >= 0),
         |f AS (SELECT * FROM t WHERE n_tokens > 0),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM f),
         |g AS (SELECT doc_id, n_tokens, cum - n_tokens AS st,
         |  unnest(generate_series((cum - n_tokens) // 512,
         |                         (cum - 1) // 512)) AS seq_id
         |  FROM c)
         |SELECT doc_id, seq_id,
         |  greatest(st, seq_id * 512) - seq_id * 512 AS seq_off,
         |  least(st + n_tokens, (seq_id + 1) * 512)
         |    - greatest(st, seq_id * 512) AS span_len
         |FROM g""".stripMargin,

    // q140: the per-group exact answer — GROUP BY (source, word) with
    // the same integer cross-multiplied per-source threshold.
    "q140_heavy_hitters_by_source" ->
      s"""WITH w AS (SELECT source,
         |    unnest(string_split(${normSql("text")}, ' ')) AS word
         |  FROM documents),
         |nn AS (SELECT source, word FROM w
         |       WHERE source IS NOT NULL AND word IS NOT NULL),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
         |      FROM nn GROUP BY source)
         |SELECT nn.source, word, CAST(count(*) AS BIGINT) AS cnt,
         |  n_group
         |FROM nn JOIN t ON nn.source = t.source
         |GROUP BY nn.source, word, n_group
         |HAVING CAST(count(*) AS BIGINT) * 50 >= n_group * 1""".stripMargin
  )

  /** Data-DEPENDENT oracle for q132 (merged by SparkEntry
    * .dynamicOracleSql): the learned merge table is recomputed with
    * the live session — bit-reproducible, exact-long pair counts with
    * lexicographic tie-break — and embedded as LITERALS in the same
    * chained-replace replay q118 uses (the q51 literal-replay
    * discipline). */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val docs = Tables.documents(s, d).filter(col("doc_id") >= 0)
    val learned = graft.functions.Bpe.learnMerges(docs, col("text"), 12)
    val absDir = abstractsDir(s, d)
    Map("q132_bpe_learned" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(${graft.functions.Bpe.tokenCountSqlWith("text", learned)})
         |    AS BIGINT) AS tokens
         |FROM documents WHERE doc_id >= 0
         |GROUP BY source""".stripMargin,
      // reads the very TSV the Spark side ingested (quote-free — the
      // JSON field is full of unquoted `"`), decodes with DuckDB's
      // native JSON codecs, replays reconstruction + fingerprint + the
      // integer TF-IDF lift
      "q263_abstract_invindex" ->
        s"""WITH abr AS (SELECT * FROM
           |    read_csv('$absDir/PaperAbstractsInvertedIndex.txt/part-*',
           |      delim = '\t', header = false, quote = '',
           |      columns = {'paper': 'BIGINT',
           |                 'indexed_abstract': 'VARCHAR'})),
           |abj AS (SELECT paper, indexed_abstract::JSON AS j FROM abr),
           |abk AS (SELECT paper, j,
           |    CAST(json_extract(j, '$$.IndexLength') AS BIGINT)
           |      AS index_length,
           |    unnest(json_keys(j, '$$.InvertedIndex')) AS word FROM abj),
           |abe AS (SELECT paper, index_length, word,
           |    CAST(j -> 'InvertedIndex' -> word AS BIGINT[]) AS positions
           |  FROM abk),
           |abt AS (SELECT paper, word, unnest(positions) AS pos FROM abe),
           |abrec AS (SELECT paper,
           |    string_agg(word, ' ' ORDER BY pos) AS abs_text
           |  FROM abt GROUP BY 1),
           |abfp AS (SELECT paper, list_reduce(list_prepend(
           |      CAST(0 AS BIGINT),
           |      list_transform(string_split(abs_text, ''),
           |        c -> CAST(ascii(c) AS BIGINT))),
           |    (acc, x) -> (acc * 31 + x) % 1000000007) AS abstract_fp
           |  FROM abrec),
           |abn AS (SELECT CAST(count(DISTINCT paper) AS BIGINT) AS n_docs
           |        FROM abe),
           |abdf AS (SELECT word, CAST(count(*) AS BIGINT) AS df
           |         FROM abe GROUP BY 1),
           |absc AS (SELECT abe.paper, abe.index_length, abe.word,
           |    CAST(len(positions) AS BIGINT) AS tf,
           |    (CAST(len(positions) AS BIGINT) * n_docs * 10000)
           |      // (abe.index_length * df) AS score_x10k
           |  FROM abe, abn JOIN abdf ON abe.word = abdf.word),
           |abtop AS (SELECT *, row_number() OVER (PARTITION BY paper
           |    ORDER BY score_x10k DESC, word ASC) AS rn FROM absc),
           |absum AS (SELECT paper, min(index_length) AS index_length,
           |    CAST(count(*) AS BIGINT) AS n_terms,
           |    CAST(sum(tf) AS BIGINT) AS n_positions
           |  FROM absc GROUP BY 1)
           |SELECT absum.paper, absum.index_length, absum.n_terms,
           |  absum.n_positions, abfp.abstract_fp,
           |  abtop.word AS top_word,
           |  CAST(abtop.score_x10k AS BIGINT) AS tfidf_x10k
           |FROM absum JOIN abfp ON absum.paper = abfp.paper
           |JOIN abtop ON absum.paper = abtop.paper AND abtop.rn = 1""".stripMargin)
  }
}
