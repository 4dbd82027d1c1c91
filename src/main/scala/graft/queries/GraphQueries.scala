package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HIndexAgg
import graft.operators.{CoOccur, Graph}
import graft.sources.Tables

/** Graph-extraction surface — the reference's distinctive layer
  * (SURVEY.md §2.9) re-grounded on the star schema: suppliers
  * co-occurring on an order play the role of authors co-occurring on a
  * paper. Queries exercise G1 (co-membership edges), G6 (edge weights),
  * A3 (first-period), G3/G4 (personal-net closure with `greatest`), and
  * the reference's one true custom aggregate, the h-index (U2).
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Edge weight threshold for the closure query: keeps the triangle
    * join sub-quadratic as scale grows (the co-supply graph gets dense;
    * reference caps analogously with papersToLookAt,
    * `StaticNet.scala:314`). */
  private val MinWeight = 5

  /** Session-scoped MATERIALIZED co-ship pair spine: the distinct
    * per-order supplier pairs with the order year attached — the one
    * expensive self-join that six graph queries (q15/q16/q17/q34/q35/
    * q40) each aggregate differently. Computed once per (session, dir)
    * and kept as a localCheckpoint: the workload-level analogue of a
    * materialized view — at 100 TB the co-occurrence edge table is
    * built once and served to every downstream analysis, not rebuilt
    * per query. The year is LEFT-joined onto the DEDUPED membership
    * before the self-join (left, so an order absent from `orders` still
    * contributes pairs to the year-less q15 — its yr is null and the
    * year-dependent consumers filter it, matching their oracles' inner
    * join), and the (much larger) pair stream flows straight into each
    * consumer's aggregation with no further join.
    *
    * The checkpoint is PINNED (survives the harness' per-query
    * `Checkpoints.releaseAll`); build, sharing and release follow the
    * [[SessionMemo]] policy. */
  private val spine = SessionMemo.pinned[DataFrame](Seq(_))
  private def pairYears(s: SparkSession, d: String): DataFrame =
    spine(s, d) {
      val m = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr")),
          Seq("l_orderkey"), "left")
      graft.Checkpoints.checkpointPinned(
        m.select(col("l_orderkey"), col("l_suppkey").as("a"), col("yr"))
          .join(m.select(col("l_orderkey"), col("l_suppkey").as("b")),
            Seq("l_orderkey"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"), col("yr")))
    }

  /** Session-scoped BUCKETED physical copy of the lineitem membership
    * columns, bucketed (and sorted) by the join key `l_orderkey` — the
    * 100×-scale answer for the whole spine family: the q15 self-join
    * then plans with ZERO shuffle exchanges (both sides co-partitioned
    * by bucket; the bucketing also satisfies the pair-dedup
    * aggregation's ClusteredDistribution since {l_orderkey} ⊆
    * {l_orderkey, l_suppkey}). Written once per (session, dir) via
    * [[graft.sources.Ingest.writeBucketed]]. */
  private val bucketedDirs = SessionMemo.indexDirs("graft_bucketed")
  private def bucketedMembership(s: SparkSession, d: String): DataFrame = {
    // full sanitized dir, not a 32-bit hash: colliding hashCodes of
    // two dirs would silently serve one dir's data for the other
    val tbl = s"graft_li_bucketed_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    bucketedDirs(s, d) { path =>
      graft.sources.Ingest.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        tbl, s"$path/$tbl", "l_orderkey", buckets = 16,
        sortKey = Some("l_orderkey"))
    }
    s.table(tbl)
  }

  /** Register the graph layer as composable temp VIEWS so a SQL-only
    * user reaches it from `spark.sql` (q109; SURVEY §7.1, the q57 move
    * extended to the operator layer): the co-ship edge spine, its k-NN
    * sparsification, per-vertex triangle counts, and connected
    * components over the k-NN spine. The edge views are lazy logical
    * plans (SQL composing them gets full Catalyst optimization over
    * the pinned spine materialization underneath); the components view
    * is the star-contraction loop's final round — iterative results
    * register as materialized-by-construction views, exactly like the
    * reference's exported net tables. */
  /** Materializations backing the registered graph views, cached per
    * (session, dir) as PINNED checkpoints: a registered view must
    * survive the harness's between-query `Checkpoints.releaseAll`
    * (a view over a released non-pinned block fails unrecoverably —
    * the lineage is truncated and the block gone). A [[SessionMemo]]
    * like the spine. */
  private val viewMats = SessionMemo.pinned[List[DataFrame]](identity)

  private[graft] def registerGraphViews(s: SparkSession, d: String): Unit = {
    coShip(s, d)
      .select(col("a"), col("b"), col("weight"),
        col("first_yr").as("first_year"))
      .createOrReplaceTempView("coship_edges")
    // one materialization of the k-NN window, shared by all three
    // consumers (the raw view, the triangle pass, the component loop)
    // instead of three window computations over the spine
    val mats = viewMats(s, d) {
      val knn = graft.Checkpoints.checkpointPinned(knnEdges(s, d))
      val comps = graft.Checkpoints.checkpointPinned(
        Graph.connectedComponentsStar(knn).select(col("v"), col("comp")))
      List(knn, comps)
    }
    mats.head.createOrReplaceTempView("knn_edges")
    Graph.triangleCounts(mats.head).createOrReplaceTempView("triangle_counts")
    mats(1).createOrReplaceTempView("components")
  }

  private def coShip(s: SparkSession, d: String): DataFrame =
    pairYears(s, d).filter(col("yr").isNotNull) // oracles inner-join orders
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("weight"), min(col("yr")).as("first_yr"))

  /** The q103/q145 substrate (weight-thresholded co-ship edges) — spec
    * hook so GraphSpec can pin coreNumbers ≡ kCore on the real graph. */
  private[graft] def kCoreSubstrate(s: SparkSession, d: String): DataFrame =
    coShip(s, d).filter(col("weight") >= TrussMinWeight)
      .select(col("a"), col("b"))

  /** Thresholded edge set shared by the iterative queries (q17, q34,
    * q35) — an aggregation over the materialized spine, itself cached
    * as a second PINNED materialized view in a [[SessionMemo]], so one
    * bench pass builds it once instead of once per consumer. */
  private val strongCache = SessionMemo.pinned[DataFrame](Seq(_))
  private def strongEdges(s: SparkSession, d: String): DataFrame =
    strongCache(s, d) {
      graft.Checkpoints.checkpointPinned(
        coShip(s, d).filter(col("weight") >= MinWeight)
          .select(col("a"), col("b"), col("first_yr").as("year")))
    }

  /** k-NN sparsification of the co-supply graph (q83/q84): each vertex
    * keeps its `KnnK` strongest edges (ties broken by partner id, so
    * fully deterministic), union'd undirected. The co-supply graph's
    * density INVERTS with scale (complete at sf0.01, weight-sparse at
    * sf0.1), so any absolute weight threshold degenerates at one end —
    * per-vertex top-k yields a structurally interesting sparse graph
    * at every SF, and is itself the standard similarity-graph
    * construction (one window over the edge list, no extra shuffle
    * shape). */
  private val KnnK = 3

  /** The DIRECTED k-NN selection under [[knnEdges]]: vertex → each of
    * its `KnnK` strongest partners. Unreciprocated picks stay one-way,
    * so the digraph is cyclic in the wild (mutual picks are 2-cycles,
    * pick-chains close longer ones) — the q187 SCC substrate. */
  private val knnDirCache = SessionMemo.pinned[DataFrame](Seq(_))
  // PINNED like [[strongEdges]]/[[pairYears]]: a dozen queries
  // (q83/q84/q147/q165/q187/q188, triangles, common-neighbors, …)
  // consume the k-NN selection, and each un-cached call would re-run
  // the co-ship groupBy AND the per-vertex top-k window — the two
  // most expensive steps of the whole graph substrate. One bench
  // pass builds it once; every later consumer reads the pinned
  // 2·KnnK-per-vertex edge list.
  private def knnDirected(s: SparkSession, d: String): DataFrame =
    knnDirCache(s, d) {
      val e = coShip(s, d)
      val sym = e.select(col("a").as("s"), col("b").as("nbr"), col("weight"))
        .unionByName(e.select(col("b").as("s"), col("a").as("nbr"),
          col("weight")))
      val byStrength = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s")).orderBy(col("weight").desc, col("nbr"))
      graft.Checkpoints.checkpointPinned(
        sym.withColumn("rn", row_number().over(byStrength))
          .filter(col("rn") <= KnnK)
          .select(col("s").as("src"), col("nbr").as("dst")))
    }

  /** Session-pinned SCC assignment over [[knnDirected]] — the
    * build/serve split at the GRAPH-ANALYTICS layer, in a
    * [[SessionMemo]]: the SCC fixpoint runs once per (session, sfDir),
    * and every consumer (q187's membership report, q199's condensation
    * DAG) serves from the pinned (v, scc_id) relation. The pin is a
    * fresh materialized block, so the operator's internal settle
    * batches stay releasable. */
  private val sccCache = SessionMemo.pinned[DataFrame](Seq(_))
  private def sccSpine(s: SparkSession, d: String): DataFrame =
    sccCache(s, d) {
      graft.Checkpoints.checkpointPinned(
        Graph.stronglyConnectedComponents(knnDirected(s, d)))
    }

  /** Session-pinned REFINED community labels over [[knnEdges]] — the
    * q188 partition (LPA 4 rounds + 2 guarded refine rounds), built
    * once per (session, sfDir) and served by both consumers: q188
    * reports it, q251 contracts it into the coarse community graph
    * for the next Louvain level. A [[SessionMemo]]. */
  private val refinedCache = SessionMemo.pinned[DataFrame](Seq(_))
  private def refinedLabelsSpine(s: SparkSession, d: String): DataFrame =
    refinedCache(s, d) {
      val edges = knnEdges(s, d)
      graft.Checkpoints.checkpointPinned(
        Graph.refineCommunities(edges,
          Graph.labelPropagation(edges, rounds = 4), rounds = 2))
    }

  /** Session-pinned KMV-register relation (v, hop, n_reg, kth_min,
    * est_reach) over the k-NN spine — the HyperBall sketch state built
    * once per (session, sfDir) and served by both consumers: q206
    * reports the registers themselves, q227 aggregates them into the
    * neighborhood function N(h). A [[SessionMemo]]; the pin is a fresh
    * materialized block, so internal hop batches stay releasable. */
  private val anfCache = SessionMemo.pinned[DataFrame](Seq(_))
  private def anfSpine(s: SparkSession, d: String): DataFrame =
    anfCache(s, d) {
      graft.Checkpoints.checkpointPinned(Graph.anfKmv(knnEdges(s, d)))
    }

  /** Condensation edges shared by q199/q200: every directed k-NN pick
    * edge lifted to its endpoints' SCCs, cross-SCC pairs only (with
    * multiplicity — q199 counts it, q200 distincts it away). */
  private def condensationEdges(s: SparkSession, d: String): DataFrame = {
    val scc = sccSpine(s, d)
    knnDirected(s, d)
      .join(scc.select(col("v").as("src"), col("scc_id").as("scc_a")),
        "src")
      .join(scc.select(col("v").as("dst"), col("scc_id").as("scc_b")),
        "dst")
      .filter(col("scc_a") =!= col("scc_b"))
      .select(col("scc_a"), col("scc_b"))
  }

  private def knnEdges(s: SparkSession, d: String): DataFrame =
    knnDirected(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** The q147/q188 substrate — spec hook so GraphSpec can assert
    * Q(refined) ≥ Q(LPA) on the real spine. */
  private[graft] def knnSpine(s: SparkSession, d: String): DataFrame =
    knnEdges(s, d)

  /** Directed citation-style edges over the k-NN spine (q98): each
    * undirected edge points from the supplier whose FIRST co-ship year
    * is later (tie → higher key) to the earlier one — later work cites
    * earlier, exactly the reference's `PaperReferences(citing, cited)`
    * direction. First-seen year comes from the spine itself (min
    * first_yr over a vertex's pairs), so the whole construction is one
    * window-free pass over already-materialized relations. */
  private def citationJoined(s: SparkSession, d: String): DataFrame = {
    val e = coShip(s, d)
    val fy = e.select(col("a").as("v"), col("first_yr"))
      .unionByName(e.select(col("b").as("v"), col("first_yr")))
      .groupBy(col("v")).agg(min(col("first_yr")).as("fy"))
    // weight = the pair's co-ship count (citation MULTIPLICITY — the
    // reference counts citations with multiplicity); q98/q104 ignore
    // it, q105 splits rank mass proportionally by it
    val und = knnEdges(s, d)
      .join(e.select(col("a"), col("b"), col("weight")), Seq("a", "b"))
    und
      .join(fy.select(col("v").as("va"), col("fy").as("fya")),
        col("a") === col("va"))
      .join(fy.select(col("v").as("vb"), col("fy").as("fyb")),
        col("b") === col("vb"))
  }

  private def citationEdges(s: SparkSession, d: String): DataFrame = {
    val j = citationJoined(s, d)
    val aCites = col("fya") > col("fyb") ||
      (col("fya") === col("fyb") && col("a") > col("b"))
    j.select(when(aCites, col("a")).otherwise(col("b")).as("src"),
      when(aCites, col("b")).otherwise(col("a")).as("dst"),
      col("weight"))
  }


  /** One MAG-aux-shaped TSV fixture dir per (session, sfDir) — the
    * q249 substrate: `PaperUrls.txt` and `PaperLanguages.txt` derived
    * deterministically from `orders` and written tab-separated, so the
    * declared-schema ingest path ([[graft.schema.MagTables]]) is
    * exercised end-to-end with DuckDB reading the SAME files via
    * `read_csv`. A [[SessionMemo.fixtureDirs]] fixture: the DuckDB
    * oracle check reads it after this JVM exits.
    *
    * Shape: every order is a "paper" with one landing-page URL whose
    * sourceType cycles 1..3 on `key % 3`, plus a type-4 PDF-mirror row
    * for every fifth key (so papers have 1–2 URLs — the aux table is a
    * genuine 1:N), and exactly one language from a 7-way key split
    * skewed toward 'en' (the real table's shape). */
  private val magAuxDirs = SessionMemo.fixtureDirs("graft_magaux")
  private def magAuxDir(s: SparkSession, d: String): String =
    magAuxDirs(s, d) { dir =>
      val k = Tables.orders(s, d).select(col("o_orderkey").as("paper"))
      val landing = k.select(col("paper"),
        (col("paper") % 3 + 1).cast("int").as("st"),
        concat(lit("https://src"), (col("paper") % 3 + 1).cast("string"),
          lit(".example.org/paper/"), col("paper").cast("string")).as("url"))
      val mirror = k.filter(col("paper") % 5 === 0).select(col("paper"),
        lit(4).as("st"),
        concat(lit("https://mirror.example.org/pdf/"),
          col("paper").cast("string"), lit(".pdf")).as("url"))
      landing.unionByName(mirror)
        .select(concat_ws("\t", col("paper"), col("st"), col("url"))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/PaperUrls.txt")
      k.select(concat_ws("\t", col("paper"),
          element_at(typedLit(Seq("en", "en", "en", "de", "fr", "ro", "zh")),
            (col("paper") % 7 + 1).cast("int")))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/PaperLanguages.txt")
      // FieldOfStudyRelationship.txt (7 cols): parts as "fields", each
      // linked to its decade-group parent with a price-derived weight
      val p = Tables.t(s, d, "part").select(col("p_partkey"),
        col("p_name"), col("p_type"), col("p_brand"), col("p_retailprice"))
      p.select(concat_ws("\t", col("p_partkey"), col("p_name"),
          col("p_type"),
          (col("p_partkey") % 10).cast("string"),
          concat(lit("group-"), (col("p_partkey") % 10).cast("string")),
          col("p_brand"),
          round(col("p_retailprice") / 10000, 4).cast("string"))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/FieldOfStudyRelationship.txt")
      // ConferenceInstances.txt (15 cols): every 50th order is a
      // conference spanning 1 + key%5 days; the three *Due dates the
      // real dump leaves empty stay empty here too
      val conf = Tables.orders(s, d)
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("id"), col("o_custkey").as("series"),
          col("o_orderdate").as("sd"),
          date_add(col("o_orderdate"), (col("o_orderkey") % 5 + 1)
            .cast("int")).as("ed"),
          date_sub(col("o_orderdate"), 30).as("subm"))
      conf.select(concat_ws("\t", col("id"),
          concat(lit("conf "), col("id").cast("string")),
          concat(lit("CONF "), col("id").cast("string")),
          col("series"),
          concat(lit("City-"), (col("id") % 7).cast("string")),
          concat(lit("https://conf.example.org/"), col("id").cast("string")))
          .as("head"),
          col("sd"), col("ed"), col("subm"), col("id"))
        .select(concat_ws("\t", col("head"), col("sd").cast("string"),
          col("ed").cast("string"), lit(""), col("subm").cast("string"),
          lit(""), lit(""), (col("id") % 40 + 1).cast("string"),
          (col("id") % 400).cast("string"), lit("2016-06-24")).as("value"))
        .write.mode("overwrite").text(s"$dir/ConferenceInstances.txt")
      // PaperRecommandations.txt (3 cols, the snapshot's spelling):
      // every 3rd order recommends two fixed-hash partners with a
      // rank-decaying score
      val rec = k.filter(col("paper") % 3 === 0)
      // Adversarial tail (a pure function of the SF — max(o_orderkey)
      // is): a DUPLICATED (paper, recommended) pair that really is
      // mutual. A reciprocity probe joining a non-deduplicated mutual
      // side fans out on these rows — the real-dump re-scored-
      // recommendation shape q256 must survive. Ids are derived from
      // the corpus max key (+1/+2), so they collide with nothing
      // organic at ANY scale factor (sparse TPC-H orderkeys reach
      // ~6M·SF, which would overtake any fixed constant around SF 17).
      // coalesce the max: on an empty corpus max(paper) is NULL and
      // concat_ws would silently drop the id, emitting malformed
      // two-field TSV lines — coalescing to 0 keeps the planted rows
      // well-formed unconditionally
      val recAdversarial = k
        .agg(coalesce(max(col("paper")), lit(0L)).as("mx"))
        .select(explode(array(
          concat_ws("\t", (col("mx") + 1).cast("string"),
            (col("mx") + 2).cast("string"), lit("0.9")),
          concat_ws("\t", (col("mx") + 1).cast("string"),
            (col("mx") + 2).cast("string"), lit("0.75")),
          concat_ws("\t", (col("mx") + 2).cast("string"),
            (col("mx") + 1).cast("string"), lit("0.9")))).as("value"))
      rec.select(col("paper"), (col("paper") * 7 % 1000).as("r"),
          lit("0.9").as("sc"))
        .unionByName(rec.select(col("paper"),
          (col("paper") * 13 % 1000).as("r"), lit("0.75").as("sc")))
        .filter(col("paper") =!= col("r"))
        .select(concat_ws("\t", col("paper"), col("r"), col("sc"))
          .as("value"))
        .unionByName(recAdversarial)
        .write.mode("overwrite").text(s"$dir/PaperRecommandations.txt")
      // Journals.txt (10 cols) + ConferenceSeries.txt (7 cols): the
      // venue catalog pair, from suppliers — issn present only for
      // every 3rd venue (the real table's sparsity)
      val ven = Tables.supplier(s, d).select(col("s_suppkey").as("id"),
        col("s_name").as("nm"), col("s_acctbal"))
      ven.select(concat_ws("\t", col("id"), (col("id") % 5000).cast("string"),
          lower(col("nm")), col("nm"),
          when(col("id") % 3 === 0, concat((col("id") % 9000 + 1000)
            .cast("string"), lit("-"), (col("id") % 8999 + 1000)
            .cast("string"))).otherwise(lit("")),
          lit(""), lit(""),
          (col("id") % 2000).cast("string"),
          (col("id") % 90000).cast("string"), lit("2016-06-24"))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/Journals.txt")
      ven.filter(col("id") % 4 === 0)
        .select(concat_ws("\t", col("id"), (col("id") % 5000).cast("string"),
          lower(col("nm")), col("nm"),
          (col("id") % 1500).cast("string"),
          (col("id") % 70000).cast("string"), lit("2016-06-24"))
          .as("value"))
        .write.mode("overwrite").text(s"$dir/ConferenceSeries.txt")
    }

  /** PaperCitationContexts-shaped TSV fixture per (session, sfDir) —
    * the q250 substrate and the reference's stated text-analysis
    * intent (`data/samples/PaperCitationContexts.txt`: one context
    * sentence per (citing, cited) reference edge; SURVEY.md §0.3): one
    * row per citation-spine edge, context = a tab-free normalized
    * slice of a real `documents` row picked by hashing the edge into
    * the dense 0-based doc_id space, wrapped in a citation-marker
    * skeleton. Separate memo from [[magAuxDir]] so the q249 fixture
    * never pays the citation-spine build. A
    * [[SessionMemo.fixtureDirs]] fixture. */
  private val ctxDirs = SessionMemo.fixtureDirs("graft_magctx")
  private def citationContextsDir(s: SparkSession, d: String): String =
    ctxDirs(s, d) { dir =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "\\s+", " ").as("t"))
      val e = citationEdges(s, d)
        .select(col("src").as("citing"), col("dst").as("cited"))
      e.join(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .withColumn("doc_id",
          pmod(col("citing") * 31 + col("cited") * 17, col("n_docs")))
        .join(docs, Seq("doc_id"))
        .select(concat_ws("\t", col("citing"), col("cited"),
          concat(lit("As shown in prior work ( ref "),
            col("cited").cast("string"), lit(" ) "),
            substring(col("t"), 1, 160))).as("value"))
        .write.mode("overwrite").text(s"$dir/PaperCitationContexts.txt")
    }

  /** MAG-snapshot TSV fixture per (session, sfDir) for the two
    * REFERENCE-JOURNEY queries (q264/q265) — the exact day-one flow a
    * reference user runs, end-to-end under the hash gate: Papers.txt
    * (21 declared columns, `models.scala:6-10`), PaperAuthorAffiliations
    * .txt and PaperReferences.txt, all pure functions of the SF tables.
    * Papers = every 97th order (the q249 dwarf stride) with its order
    * year; every 7th paper's year is EMPTY (the reference's null-year
    * sentinel-3000 path, `ProfileConversion.scala:44`). Authors =
    * lineitem suppliers (duplicate (paper, author) rows kept — the
    * readers' distinct() is part of the journey). References: each
    * paper cites the min-key paper of two other key buckets — bounded
    * fan-in, deterministic, and the oracle reads the written file so no
    * replay is needed. A [[SessionMemo.fixtureDirs]] fixture, one
    * dir per stride. */
  private val journeyDirs = SessionMemo.fixtureDirs("graft_magjourney")
  private def magJourneyDir(s: SparkSession, d: String,
                            stride: Int = 97): String =
    journeyDirs(s, d, if (stride == 97) "" else s"_s$stride") { dir =>
      val sel = Tables.orders(s, d).filter(col("o_orderkey") % stride === 0)
        .select(col("o_orderkey").as("id"), col("o_orderdate").as("dt"))
      sel.select(concat_ws("\t",
          col("id"), lit("1"),
          concat(lit("10.1000/j."), col("id").cast("string")),
          lit("journal"),
          concat(lit("paper "), col("id").cast("string")),
          concat(lit("Paper "), col("id").cast("string")),
          lit(""),
          when(expr(s"(id div $stride) % 7") === 0, lit(""))
            .otherwise(year(col("dt")).cast("string")),
          col("dt").cast("string"), lit("pub"), lit("1"), lit("0"),
          lit("0"), lit(""), lit(""), lit(""), lit(""), lit("0"),
          lit("0"), lit("0"), col("dt").cast("string")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$dir/Papers.txt")
      Tables.lineitem(s, d).filter(col("l_orderkey") % stride === 0)
        .select(concat_ws("\t", col("l_orderkey"), col("l_suppkey"),
          (col("l_suppkey") % 100), col("l_linenumber"), lit(""))
          .as("value"))
        .coalesce(1).write.mode("overwrite")
        .text(s"$dir/PaperAuthorAffiliations.txt")
      val bk = sel.select(col("id"), expr(s"(id div $stride) % 8").as("h"))
      val bmin = bk.groupBy(col("h")).agg(min(col("id")).as("bmin"))
      val refs = bk
        .join(broadcast(bmin.select(((col("h") + 7) % 8).as("h"),
          col("bmin").as("cited"))), Seq("h"))
        .select(col("id").as("citing"), col("cited"))
        .unionByName(bk
          .join(broadcast(bmin.select(((col("h") + 5) % 8).as("h"),
            col("bmin").as("cited"))), Seq("h"))
          .select(col("id").as("citing"), col("cited")))
        .filter(col("citing") =!= col("cited"))
      refs.select(concat_ws("\t", col("citing"), col("cited")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$dir/PaperReferences.txt")
    }

  /** DYNAMIC oracles for the MAG-aux fixture queries (paths are
    * session-scoped): DuckDB reads the very TSV files the Spark side
    * ingested, so the declared-schema read itself is under the hash
    * gate, not just the downstream relational algebra. */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = {
    val dir = magAuxDir(s, d)
    val ctxDir = citationContextsDir(s, d)
    val jDir = magJourneyDir(s, d)
    val jdDir = magJourneyDir(s, d, 17) // q277's dense-stride snapshot
    def journeyReads(jDir: String) =
      s"""jpp AS (SELECT * FROM read_csv('$jDir/Papers.txt/part-*',
         |    delim = '\t', header = false,
         |    columns = {'id': 'BIGINT', 'rank': 'INTEGER',
         |               'doi': 'VARCHAR', 'doc_type': 'VARCHAR',
         |               'title': 'VARCHAR', 'original_title': 'VARCHAR',
         |               'book_title': 'VARCHAR', 'year': 'INTEGER',
         |               'pub_date': 'DATE', 'publisher': 'VARCHAR',
         |               'journal': 'BIGINT', 'conference_series': 'BIGINT',
         |               'conference_instance': 'BIGINT',
         |               'volume': 'VARCHAR', 'issue': 'VARCHAR',
         |               'first_page': 'VARCHAR', 'last_page': 'VARCHAR',
         |               'n_refs': 'BIGINT', 'n_citations': 'BIGINT',
         |               'estimated_citations': 'BIGINT',
         |               'created_at': 'DATE'})),
         |jpa AS (SELECT * FROM
         |    read_csv('$jDir/PaperAuthorAffiliations.txt/part-*',
         |      delim = '\t', header = false,
         |      columns = {'paper': 'BIGINT', 'author': 'BIGINT',
         |                 'affiliation': 'BIGINT', 'seq': 'INTEGER',
         |                 'orig_aff': 'VARCHAR'})),
         |jpy AS (SELECT id AS paper, COALESCE(year, 3000) AS year FROM jpp),
         |jm AS (SELECT DISTINCT paper, author FROM jpa)""".stripMargin
    // The ProfileConversion journey oracle, parameterized by snapshot
    // dir so the default (%97, q265) and dense (%17, q278) strides
    // replay the IDENTICAL two-leg SQL: per-paper cumulative citation
    // densification + author-year paper counts + h-index as the
    // sorted-prefix count.
    def profileJourneyOracle(jDir: String): String =
      s"""WITH ${journeyReads(jDir)},
         |jpr AS (SELECT * FROM
         |    read_csv('$jDir/PaperReferences.txt/part-*',
         |      delim = '\t', header = false,
         |      columns = {'citing': 'BIGINT', 'cited': 'BIGINT'})),
         |jre AS (SELECT DISTINCT citing, cited FROM jpr),
         |jyr AS (SELECT unnest(generate_series(1992, 1998)) AS year),
         |jpcy AS (SELECT jre.cited, jpy.year,
         |           CAST(count(*) AS BIGINT) AS cnt
         |         FROM jre JOIN jpy ON jre.citing = jpy.paper
         |         WHERE jpy.year <= 1998 GROUP BY 1, 2),
         |jfc AS (SELECT cited, min(year) AS fy FROM jpcy GROUP BY 1),
         |jcg AS (SELECT cited, jyr.year, CAST(0 AS BIGINT) AS cnt
         |        FROM jfc, jyr WHERE jyr.year >= jfc.fy),
         |jcp AS (SELECT cited, year, sum(cnt) AS cnt FROM
         |        (SELECT * FROM jpcy UNION ALL SELECT * FROM jcg)
         |        GROUP BY 1, 2),
         |jcum AS (SELECT cited, year, cnt,
         |           sum(cnt) OVER (PARTITION BY cited ORDER BY year)
         |             AS cum
         |         FROM jcp),
         |jcr AS (SELECT * FROM jcum WHERE year >= 1992),
         |jac AS (SELECT jm.author, jcr.year,
         |          CAST(sum(cnt) AS BIGINT) AS citations,
         |          CAST(sum(cum) AS BIGINT) AS cum_citations
         |        FROM jcr JOIN jm ON jcr.cited = jm.paper GROUP BY 1, 2),
         |jhx AS (SELECT jm.author, jcr.year, jcr.cum,
         |          row_number() OVER (PARTITION BY jm.author, jcr.year
         |            ORDER BY jcr.cum DESC) AS rn
         |        FROM jcr JOIN jm ON jcr.cited = jm.paper),
         |jhv AS (SELECT author, year,
         |          CAST(count(*) FILTER (WHERE cum >= rn) AS BIGINT)
         |            AS h_index
         |        FROM jhx GROUP BY 1, 2),
         |jpby AS (SELECT jm.author, jpy.year,
         |           CAST(count(*) AS BIGINT) AS papers
         |         FROM jm JOIN jpy USING (paper) WHERE jpy.year <= 1998
         |         GROUP BY 1, 2),
         |jag AS (SELECT ja0.author, jyr.year, CAST(0 AS BIGINT) AS papers
         |        FROM (SELECT DISTINCT author FROM jm) ja0, jyr),
         |jp0 AS (SELECT author, year, sum(papers) AS papers FROM
         |        (SELECT * FROM jpby UNION ALL SELECT * FROM jag)
         |        GROUP BY 1, 2),
         |jp1 AS (SELECT author, year, papers,
         |          sum(papers) OVER (PARTITION BY author ORDER BY year)
         |            AS cum_papers
         |        FROM jp0),
         |jp2 AS (SELECT * FROM jp1 WHERE year >= 1992)
         |SELECT jp2.author, CAST(jp2.year AS BIGINT) AS year,
         |  CAST(jp2.papers AS BIGINT) AS papers,
         |  CAST(jp2.cum_papers AS BIGINT) AS cum_papers,
         |  COALESCE(jac.citations, 0) AS citations,
         |  COALESCE(jac.cum_citations, 0) AS cum_citations,
         |  COALESCE(jhv.h_index, 0) AS h_index
         |FROM jp2
         |LEFT JOIN jac ON jp2.author = jac.author AND jp2.year = jac.year
         |LEFT JOIN jhv ON jp2.author = jhv.author
         |             AND jp2.year = jhv.year""".stripMargin
    Map(
      "q264_personalnet_journey" ->
        s"""WITH ${journeyReads(jDir)},
           |je AS (SELECT x.author AS a, y.author AS b,
           |         min(jpy.year) AS fy
           |       FROM jm x JOIN jm y
           |         ON x.paper = y.paper AND x.author < y.author
           |       JOIN jpy ON jpy.paper = x.paper
           |       GROUP BY 1, 2),
           |jadj AS (SELECT a AS ego, b AS alter, fy AS y FROM je
           |         UNION ALL SELECT b, a, fy FROM je),
           |jap AS (SELECT c1.ego, c1.alter AS a1, c2.alter AS a2,
           |          greatest(c1.y, c2.y) AS py
           |        FROM jadj c1 JOIN jadj c2
           |          ON c1.ego = c2.ego AND c1.alter < c2.alter)
           |SELECT jap.ego, jap.a1, jap.a2,
           |  CAST(greatest(py, je.fy) AS BIGINT) AS year
           |FROM jap JOIN je ON jap.a1 = je.a AND jap.a2 = je.b""".stripMargin,
      // q277: the SAME closure replayed on the DENSE %17 snapshot (the
      // pair join is ~30x the q264 load at any SF), read out per ego
      // so the gate artifact stays group-sized while BOTH engines chew
      // the full alter-pair join
      "q277_personalnet_dense" ->
        s"""WITH ${journeyReads(jdDir)},
           |je AS (SELECT x.author AS a, y.author AS b,
           |         min(jpy.year) AS fy
           |       FROM jm x JOIN jm y
           |         ON x.paper = y.paper AND x.author < y.author
           |       JOIN jpy ON jpy.paper = x.paper
           |       GROUP BY 1, 2),
           |jadj AS (SELECT a AS ego, b AS alter, fy AS y FROM je
           |         UNION ALL SELECT b, a, fy FROM je),
           |jap AS (SELECT c1.ego, c1.alter AS a1, c2.alter AS a2,
           |          greatest(c1.y, c2.y) AS py
           |        FROM jadj c1 JOIN jadj c2
           |          ON c1.ego = c2.ego AND c1.alter < c2.alter),
           |jcl AS (SELECT jap.ego,
           |          CAST(greatest(py, je.fy) AS BIGINT) AS year
           |        FROM jap JOIN je ON jap.a1 = je.a AND jap.a2 = je.b)
           |SELECT ego, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(min(year) AS BIGINT) AS first_year,
           |  CAST(max(year) AS BIGINT) AS last_year
           |FROM jcl GROUP BY ego""".stripMargin,
      "q265_profile_journey" -> profileJourneyOracle(jDir),
      // q278: the SAME profile replayed on the DENSE %17 snapshot —
      // the ProfileConversion journey's densify + h-index legs at
      // ~5.7x the paper volume (the q277 symmetry, r17 VERDICT item 7)
      "q278_profile_dense" -> profileJourneyOracle(jdDir),
      "q250_citation_context_terms" ->
      s"""WITH cc AS (SELECT * FROM
         |    read_csv('$ctxDir/PaperCitationContexts.txt/part-*',
         |      delim = '\t', header = false,
         |      columns = {'citing': 'BIGINT', 'cited': 'BIGINT',
         |                 'context': 'VARCHAR'})),
         |ctok AS (SELECT cited, unnest(string_split(
         |    lower(trim(regexp_replace(context, '\\s+', ' ', 'g'))), ' '))
         |    AS word FROM cc),
         |ct AS (SELECT * FROM ctok WHERE word <> ''),
         |ccw AS (SELECT cited, word, CAST(count(*) AS BIGINT) AS n_cw
         |        FROM ct GROUP BY 1, 2),
         |cnc AS (SELECT cited, CAST(count(*) AS BIGINT) AS n_c
         |        FROM ct GROUP BY 1),
         |cnw AS (SELECT word, CAST(count(*) AS BIGINT) AS n_w
         |        FROM ct GROUP BY 1),
         |cnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ct),
         |csc AS (SELECT ccw.cited, ccw.word, n_cw,
         |    n_cw * n * 10000 // (n_c * n_w) AS lift_x10k
         |  FROM ccw, cnn
         |  JOIN cnc ON ccw.cited = cnc.cited
         |  JOIN cnw ON ccw.word = cnw.word
         |  WHERE n_cw >= 2),
         |cr AS (SELECT *, row_number() OVER (PARTITION BY cited
         |    ORDER BY lift_x10k DESC, word ASC) AS rn FROM csc)
         |SELECT cited, word, n_cw, lift_x10k, CAST(rn AS BIGINT) AS rn
         |FROM cr WHERE rn <= 3""".stripMargin,
      "q260_conference_orders" ->
        s"""WITH cfx AS (SELECT * FROM
           |    read_csv('$dir/ConferenceInstances.txt/part-*',
           |      delim = '\t', header = false,
           |      columns = {'id': 'BIGINT', 'name': 'VARCHAR',
           |                 'dname': 'VARCHAR', 'series': 'BIGINT',
           |                 'location': 'VARCHAR', 'url': 'VARCHAR',
           |                 'start_date': 'DATE', 'end_date': 'DATE',
           |                 'abstract_due': 'DATE', 'submission_due': 'DATE',
           |                 'notification_due': 'DATE', 'final_due': 'DATE',
           |                 'papers': 'BIGINT', 'citations': 'BIGINT',
           |                 'created_at': 'DATE'}))
           |SELECT cfx.id AS conf_id, CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |    AS revenue_cents
           |FROM cfx JOIN orders
           |  ON o_orderdate >= cfx.start_date AND o_orderdate <= cfx.end_date
           |GROUP BY 1""".stripMargin,
      "q254_fos_relationship_census" ->
        s"""WITH fr AS (SELECT * FROM
           |    read_csv('$dir/FieldOfStudyRelationship.txt/part-*',
           |      delim = '\t', header = false,
           |      columns = {'fos1': 'BIGINT', 'name1': 'VARCHAR',
           |                 'type1': 'VARCHAR', 'fos2': 'BIGINT',
           |                 'name2': 'VARCHAR', 'type2': 'VARCHAR',
           |                 'weight': 'DOUBLE'}))
           |SELECT type1, type2, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT fos1) AS BIGINT) AS n_fields,
           |  CAST(sum(CAST(floor(weight * 10000) AS BIGINT)) AS BIGINT)
           |    AS weight_x10k
           |FROM fr GROUP BY 1, 2""".stripMargin,
      "q255_conference_seasons" ->
        s"""WITH ci AS (SELECT * FROM
           |    read_csv('$dir/ConferenceInstances.txt/part-*',
           |      delim = '\t', header = false,
           |      columns = {'id': 'BIGINT', 'name': 'VARCHAR',
           |                 'dname': 'VARCHAR', 'series': 'BIGINT',
           |                 'location': 'VARCHAR', 'url': 'VARCHAR',
           |                 'start_date': 'DATE', 'end_date': 'DATE',
           |                 'abstract_due': 'DATE', 'submission_due': 'DATE',
           |                 'notification_due': 'DATE', 'final_due': 'DATE',
           |                 'papers': 'BIGINT', 'citations': 'BIGINT',
           |                 'created_at': 'DATE'}))
           |SELECT CAST(year(start_date) AS BIGINT) AS yr,
           |  CAST(count(*) AS BIGINT) AS n_instances,
           |  CAST(count(DISTINCT series) AS BIGINT) AS n_series,
           |  CAST(sum(datediff('day', start_date, end_date)) AS BIGINT)
           |    AS span_days,
           |  CAST(sum(datediff('day', submission_due, start_date)) AS BIGINT)
           |    AS lead_days,
           |  CAST(sum(CASE WHEN abstract_due IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_missing_abstract,
           |  CAST(sum(papers) AS BIGINT) AS papers_mass
           |FROM ci GROUP BY 1""".stripMargin,
      "q256_reco_reciprocity" ->
        s"""WITH rc AS (SELECT * FROM
           |    read_csv('$dir/PaperRecommandations.txt/part-*',
           |      delim = '\t', header = false,
           |      columns = {'paper': 'BIGINT', 'recommended': 'BIGINT',
           |                 'score': 'DOUBLE'}))
           |SELECT a.score, CAST(count(*) AS BIGINT) AS n_edges,
           |  CAST(count(DISTINCT a.paper) AS BIGINT) AS n_src,
           |  CAST(sum(CASE WHEN b.paper IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_mutual
           |FROM rc a LEFT JOIN (SELECT DISTINCT paper, recommended
           |                     FROM rc) b
           |  ON a.paper = b.recommended AND a.recommended = b.paper
           |GROUP BY 1""".stripMargin,
      "q257_venue_catalog" ->
        s"""WITH vj AS (SELECT * FROM read_csv('$dir/Journals.txt/part-*',
           |    delim = '\t', header = false,
           |    columns = {'id': 'BIGINT', 'rank': 'INTEGER',
           |               'name': 'VARCHAR', 'dname': 'VARCHAR',
           |               'issn': 'VARCHAR', 'publisher': 'VARCHAR',
           |               'webpage': 'VARCHAR', 'papers': 'BIGINT',
           |               'citations': 'BIGINT', 'created_at': 'DATE'})),
           |vcs AS (SELECT * FROM read_csv('$dir/ConferenceSeries.txt/part-*',
           |    delim = '\t', header = false,
           |    columns = {'id': 'BIGINT', 'rank': 'INTEGER',
           |               'name': 'VARCHAR', 'dname': 'VARCHAR',
           |               'papers': 'BIGINT', 'citations': 'BIGINT',
           |               'created_at': 'DATE'})),
           |uv AS (SELECT 'journal' AS kind,
           |    CASE WHEN issn IS NOT NULL THEN 1 ELSE 0 END AS has_issn,
           |    papers, citations FROM vj
           |  UNION ALL
           |  SELECT 'conference', 0, papers, citations FROM vcs)
           |SELECT kind, CAST(has_issn AS BIGINT) AS has_issn,
           |  CAST(count(*) AS BIGINT) AS n_venues,
           |  CAST(sum(papers) AS BIGINT) AS papers_mass,
           |  CAST(sum(citations) AS BIGINT) AS citations_mass
           |FROM uv GROUP BY 1, 2""".stripMargin,
      "q249_aux_dwarf" ->
      s"""WITH u AS (SELECT * FROM read_csv('$dir/PaperUrls.txt/part-*',
         |    delim = '\t', header = false,
         |    columns = {'paper': 'BIGINT', 'source_type': 'INTEGER',
         |               'url': 'VARCHAR'})),
         |lg AS (SELECT * FROM read_csv('$dir/PaperLanguages.txt/part-*',
         |    delim = '\t', header = false,
         |    columns = {'paper': 'BIGINT', 'language': 'VARCHAR'})),
         |rts AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
         |SELECT lg.language, u.source_type,
         |  CAST(count(DISTINCT u.paper) AS BIGINT) AS n_papers,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(sum(length(u.url)) AS BIGINT) AS url_chars
         |FROM u JOIN rts ON u.paper = rts.o_orderkey
         |       JOIN lg ON lg.paper = u.paper
         |GROUP BY 1, 2""".stripMargin)
  }

  val defs: Map[String, Q] = Map(
    // G1+G6: distinct co-membership pairs, weighted by shared groups
    // (an aggregation over the materialized pair spine; the standalone
    // operator form is CoOccur.weightedEdges).
    "q15_cosupply_edges" -> { (s, d) =>
      pairYears(s, d).groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("orders_together"))
        .select(col("a").as("s1"), col("b").as("s2"), col("orders_together"))
    },

    // q15's semantics rebuilt from the BUCKETED physical design: the
    // expensive self-join reads the bucketed table and plans with no
    // shuffle exchange on the join — the only shuffle left is the
    // final (a, b) edge aggregation, which no physical layout keyed on
    // l_orderkey can absorb. Same oracle as q15.
    "q71_bucketed_spine" -> { (s, d) =>
      val m = bucketedMembership(s, d).distinct()
      m.select(col("l_orderkey"), col("l_suppkey").as("a"))
        .join(m.select(col("l_orderkey"), col("l_suppkey").as("b")),
          Seq("l_orderkey"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("orders_together"))
        .select(col("a").as("s1"), col("b").as("s2"), col("orders_together"))
    },

    // + A3: first co-occurrence period per pair (first-collab year).
    "q16_first_coship" -> { (s, d) =>
      coShip(s, d).select(col("a").as("s1"), col("b").as("s2"),
        col("weight").as("orders_together"), col("first_yr").as("first_year"))
    },

    // G3+G4: personal-network closure with greatest() year semantics.
    "q17_supplier_triangles" -> { (s, d) =>
      CoOccur.personalNet(strongEdges(s, d))
    },

    // G2: hierarchy root closure — the reference's central recursive
    // getRootFos (App.scala:21-35) as a bulk fixpoint. The star
    // schema's supplier -> nation -> region chain is the 3-level
    // hierarchy (node ids offset into disjoint spaces); every node
    // resolves to its region root, regions resolve to themselves.
    // Oracle = the unrolled join (the hierarchy is acyclic and fixed
    // depth, so recursion and unrolling agree).
    "q19_root_closure" -> { (s, d) =>
      val supEdges = Tables.supplier(s, d)
        .select((col("s_suppkey") + 10000L).as("child"),
          (col("s_nationkey") + 1000L).as("parent"))
      val natEdges = Tables.nation(s, d)
        .select((col("n_nationkey") + 1000L).as("child"),
          col("n_regionkey").cast("long").as("parent"))
      Graph.rootClosure(supEdges.unionByName(natEdges))
    },

    // REFERENCE JOURNEY 1 under the hash gate: TSV snapshot →
    // declared-schema readers → first-collaboration-year coauthor
    // edges → personal-network closure — PersonalNet_2's end-to-end
    // flow (`PersonalNet_2.scala:88-136`), previously only spec'd
    // (ReferenceJourneySpec). Null publication years ride the
    // sentinel-3000 fill; the oracle reads the SAME TSV files and
    // replays pair extraction, min-year, and the greatest()-year
    // triangle closure.
    "q264_personalnet_journey" -> { (s, d) =>
      val dir = magJourneyDir(s, d)
      val paa = graft.schema.MagTables.paperAuthorAffiliations(s, dir)
      val papers = graft.schema.MagTables.papers(s, dir)
        .select(col("id").as("paper"), col("year"))
        .na.fill(graft.operators.AuthorProfiles.SentinelYear, Seq("year"))
      // checkpointed: personalNet reads the edge spine THREE ways
      // (both adjacency directions + the closing join) — without the
      // pin each re-runs the pair self-join over the snapshot
      val edges = graft.Checkpoints.checkpoint(CoOccur.firstPeriodEdges(
          paa.select(col("paper"), col("author")), papers,
          "paper", "author", "year")
        .select(col("a"), col("b"), col("first_year").as("year")))
      CoOccur.personalNet(edges)
        .select(col("ego"), col("a1"), col("a2"),
          col("year").cast("long").as("year"))
    },

    // q264's journey at the DENSE stride (every 17th order — the r16
    // VERDICT's item 6): the coauthor pool saturates (each author on
    // ~35 papers instead of ~6), so the alter-pair self-join inside
    // personalNet carries ~30x the q264 row volume at the same SF —
    // the journey shape actually stressing the pair join at bench
    // scale. Read out per ego (n_pairs / first / last collaboration
    // year) so the correctness artifact stays group-sized while both
    // engines materialize the full pair join; the oracle replays the
    // identical closure + aggregate on the same dense TSV snapshot.
    "q277_personalnet_dense" -> { (s, d) =>
      val dir = magJourneyDir(s, d, 17)
      val paa = graft.schema.MagTables.paperAuthorAffiliations(s, dir)
      val papers = graft.schema.MagTables.papers(s, dir)
        .select(col("id").as("paper"), col("year"))
        .na.fill(graft.operators.AuthorProfiles.SentinelYear, Seq("year"))
      val edges = graft.Checkpoints.checkpoint(CoOccur.firstPeriodEdges(
          paa.select(col("paper"), col("author")), papers,
          "paper", "author", "year")
        .select(col("a"), col("b"), col("first_year").as("year")))
      // broadcast the edge spine: checkpointed relations carry no
      // stats, so without the hint the closing (a1, a2) probe plans a
      // sort-merge join that SHUFFLES the ~30M-row alter-pair side —
      // the spine is ~120k rows at sf0.1, the textbook broadcast dim.
      // SIZE-GATED (r17 VERDICT item 2): the hint applies only while
      // the spine actually fits autoBroadcastJoinThreshold (one free
      // count on the already-checkpointed frame); at 100× the
      // tens-of-millions-row spine falls through to the plain join
      // instead of forcing a driver-side build
      CoOccur.personalNet(graft.operators.Joins.broadcastIfSmall(edges))
        .groupBy(col("ego"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("year")).cast("long").as("first_year"),
          max(col("year")).cast("long").as("last_year"))
    },

    // REFERENCE JOURNEY 2 under the hash gate: the same TSV snapshot
    // through ProfileConversion's densified cumulative author profile
    // with the per-year h-index (`ProfileConversion.scala:44-162` —
    // AuthorProfiles.profile), previously only spec'd. The oracle
    // replays BOTH legs (per-paper cumulative citation densification,
    // author-year paper counts) plus the h-index as the sorted-prefix
    // count, from the same files.
    "q265_profile_journey" -> { (s, d) =>
      val dir = magJourneyDir(s, d)
      val paa = graft.schema.MagTables.paperAuthorAffiliations(s, dir)
        .select(col("paper"), col("author"))
      val papers = graft.schema.MagTables.papers(s, dir)
        .select(col("id"), col("year"))
      val refs = graft.schema.MagTables.paperReferences(s, dir)
      graft.operators.AuthorProfiles.profile(paa, papers, refs, 1992, 1998)
        .select(col("author"), col("year").cast("long").as("year"),
          col("papers"), col("cum_papers"), col("citations"),
          col("cum_citations"), col("h_index").cast("long").as("h_index"))
    },

    // q265's journey at the DENSE stride (every 17th order) — the
    // profile-side symmetry of q277 (r17 VERDICT item 7): ~5.7x the
    // paper volume through the SAME densify + cumulative-window +
    // h-index legs, so the grid cross-join and the per-author-year
    // rank both carry journey-shaped load at bench scale. Output stays
    // author-year-sized (authors are bounded by the supplier domain),
    // so the gate artifact is small while both engines replay the full
    // densification.
    "q278_profile_dense" -> { (s, d) =>
      val dir = magJourneyDir(s, d, 17)
      val paa = graft.schema.MagTables.paperAuthorAffiliations(s, dir)
        .select(col("paper"), col("author"))
      val papers = graft.schema.MagTables.papers(s, dir)
        .select(col("id"), col("year"))
      val refs = graft.schema.MagTables.paperReferences(s, dir)
      graft.operators.AuthorProfiles.profile(paa, papers, refs, 1992, 1998)
        .select(col("author"), col("year").cast("long").as("year"),
          col("papers"), col("cum_papers"), col("citations"),
          col("cum_citations"), col("h_index").cast("long").as("h_index"))
    },

    // U2: h-index as a custom partial-aggregating Aggregator.
    "q18_supplier_hindex" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(HIndexAgg.hindex(col("l_quantity").cast("long"))
          .cast("long").as("h_index"))
    },

    // Iterative min-label propagation (dedup clustering primitive);
    // oracle is a recursive CTE.
    "q34_cosupply_components" -> { (s, d) =>
      Graph.connectedComponents(strongEdges(s, d).select(col("a"), col("b")))
    },

    // The O(log n) large-star/small-star contraction (the general-
    // topology 100 TB path that q34's label propagation defers to)
    // under the SAME recursive-CTE oracle: both algorithms must land
    // on identical components.
    "q78_components_star" -> { (s, d) =>
      Graph.connectedComponentsStar(
        strongEdges(s, d).select(col("a"), col("b")))
        .select(col("v"), col("comp"))
    },

    // Per-vertex triangle participation over the k-NN co-supply graph
    // — degree-ordered orientation bounds wedge fan-out by O(sqrt(m))
    // per pivot (Graph.triangles scaladoc); oracle is the naive
    // x<y<z 3-way self-join, which the orientation must reproduce
    // exactly (each triangle found once, whatever its degree order).
    "q83_triangle_counts" -> { (s, d) =>
      Graph.triangleCounts(knnEdges(s, d))
    },

    // Common-neighbor link prediction ("people you may know"): NON-
    // edges ranked by shared-neighbor count, Jaccard kept in exact
    // integer ratio form (cn, union_size) for cross-engine parity.
    "q84_link_prediction" -> { (s, d) =>
      Graph.commonNeighbors(knnEdges(s, d), minCommon = 2L)
        .select(col("u").as("s1"), col("v").as("s2"),
          col("cn"), col("union_size"))
    },

    // q84 with the HUB CAP exercised under the gate: pivots of degree
    // > 4 generate no wedges (the O(d²) celebrity guard —
    // commonNeighbors scaladoc), while union_size keeps TRUE degrees.
    // The oracle replays the cap as a degree filter on the wedge
    // pivot, so the cap's exact semantics — not just "fewer rows" —
    // are hash-checked.
    "q101_link_prediction_capped" -> { (s, d) =>
      Graph.commonNeighbors(knnEdges(s, d), minCommon = 2L, maxDegree = 4L)
        .select(col("u").as("s1"), col("v").as("s2"),
          col("cn"), col("union_size"))
    },

    // Local clustering coefficient in exact integer ratio form:
    // (v, n_triangles, n_wedges = deg·(deg−1)/2) — coefficient =
    // n_triangles/n_wedges, left as the integer pair (q66 discipline).
    // Every vertex of the spine appears, zero-filled.
    "q89_clustering_coeff" -> { (s, d) =>
      val ed = knnEdges(s, d)
      val tc = Graph.triangleCounts(ed)
      val adj = ed.select(col("a").as("v"), col("b"))
        .unionByName(ed.select(col("b").as("v"), col("a").as("b")))
      val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      deg.join(tc, Seq("v"), "left")
        .select(col("v"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          expr("deg * (deg - 1) div 2").as("n_wedges"))
    },

    // Per-edge triangle support on the k-NN spine — the k-truss
    // building block (edges with support >= k-2 form the k-truss);
    // zero-filled so bridge edges are visible, exact integers.
    "q97_edge_support" -> { (s, d) =>
      Graph.triangleSupport(knnEdges(s, d))
        .select(col("u").as("s1"), col("v").as("s2"), col("support"))
    },

    // Degree structure of the k-NN spine in one pass: the degree
    // histogram plus the exact integer MOMENTS of degree–degree
    // assortativity (per directed edge x=deg(src), y=deg(dst):
    // Σxy, Σx, Σx², m) — Pearson r is a pure derivation from these,
    // so the oracle checks the full computation with zero float risk
    // (the q66/q84 ratio discipline applied to a network-science
    // metric).
    "q96_degree_structure" -> { (s, d) =>
      val ed = knnEdges(s, d)
      val adj = ed.select(col("a").as("s"), col("b").as("t"))
        .unionByName(ed.select(col("b").as("s"), col("a").as("t")))
      val deg = adj.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      val hist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
      val moments = adj
        .join(deg.select(col("s"), col("deg").as("dx")), "s")
        .join(deg.select(col("s").as("t"), col("deg").as("dy")), "t")
        .agg(sum(col("dx") * col("dy")).as("sum_xy"),
          sum(col("dx")).as("sum_x"),
          sum(col("dx") * col("dx")).as("sum_x2"),
          count(lit(1)).as("m"))
      // one relation: histogram rows + a single moments row (deg null)
      hist.select(col("deg"), col("n_vertices"),
          lit(null).cast("long").as("sum_xy"),
          lit(null).cast("long").as("sum_x"),
          lit(null).cast("long").as("sum_x2"),
          lit(null).cast("long").as("m"))
        .unionByName(moments.select(lit(null).cast("long").as("deg"),
          lit(null).cast("long").as("n_vertices"),
          col("sum_xy"), col("sum_x"), col("sum_x2"), col("m")))
    },

    // Integer PageRank (3 rounds, damping 85/100, scale 1e12) on the
    // k-NN spine — an ITERATIVE centrality under a full cross-engine
    // oracle, possible only because every step is int64 floor
    // arithmetic (Graph.pageRankInt scaladoc); the oracle is the same
    // three rounds unrolled as plain CTEs.
    "q87_pagerank" -> { (s, d) =>
      Graph.pageRankInt(knnEdges(s, d))
    },

    // Approximate Neighborhood Function (HyperBall with KMV registers)
    // over the k-NN spine: per vertex and hop ≤ 3, the k=8 smallest
    // ball hashes and the KMV reach estimate. The register is a
    // deterministic function of the ball, so the ENTIRE sketch state
    // is oracle-replayed (recursive BFS → per-ball k-min ranking) —
    // the sketch scale path (k longs per vertex, one join + one merge
    // groupBy per hop) under a full hash-match gate.
    "q206_anf_reach" -> { (s, d) =>
      anfSpine(s, d)
    },

    // The neighborhood function N(h) = Σ_v est_reach(v, h) aggregated
    // from the SAME pinned KMV registers q206 reports (the sketch
    // build/serve split: the 3-hop merge loop never reruns per
    // consumer), with the classic effective-diameter readout — the
    // integer 90%-of-total-mass flag per hop and the hop's mass
    // fraction in exact basis points. frac is computed with int64
    // floor division (`div`), matching the oracle's `//` exactly — no
    // double rounding in the gate. nf_max is a 1-row broadcast scalar
    // (registered intended crossJoin). HyperANF's headline readout
    // (Boldi et al., WWW'11) as one aggregate over sketch state that
    // is O(k · |V|) regardless of edge count.
    "q227_anf_diameter" -> { (s, d) =>
      val nf = anfSpine(s, d)
        .groupBy(col("hop"))
        .agg(sum(col("est_reach")).as("nf"),
          count(lit(1)).as("n_vertices"))
      val mx = nf.filter(col("hop") === 3)
        .select(col("nf").as("nf_max"))
      nf.crossJoin(broadcast(mx))
        .select(col("hop"), col("nf"), col("n_vertices"),
          expr("nf * 10000 div nf_max").as("frac_x10k"),
          when(col("nf") * 10 >= col("nf_max") * 9, 1L).otherwise(0L)
            .as("at_eff_diameter"))
    },

    // DEGREE-ASSORTATIVITY pieces (Newman 2002, "Assortative mixing in
    // networks") — is the similarity graph hub-hub or hub-leaf wired?
    // Exact integer Pearson pieces over the directed-both edge list:
    // r = (M·Σxy − (Σx)²) / (M·Σxx − (Σx)²) with x = deg(u),
    // y = deg(v) per directed edge (Σx = Σy by symmetry). The output
    // is the raw int64 pieces plus numerator/denominator — NO division:
    // the SIGN is the finding, and floor-div of a negative numerator
    // diverges between engines (Spark div truncates toward zero,
    // DuckDB // floors). Scale shape: one degree groupBy + two
    // broadcast-able dimension joins + one global aggregate; at 100 TB
    // the squared sums want DECIMAL(38,0) widening (documented, not
    // needed at the gate SFs where Σx² ≈ 3e10).
    "q234_degree_assortativity" -> { (s, d) =>
      val e = knnEdges(s, d)
      val sy = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val deg = sy.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      sy.join(deg.select(col("u"), col("deg").as("x")), "u")
        .join(deg.select(col("u").as("v2"), col("deg").as("y")),
          col("v") === col("v2"))
        .agg(count(lit(1)).as("m2"), sum(col("x")).as("sum_x"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"))
        .select(col("m2"), col("sum_x"), col("sum_xy"), col("sum_xx"),
          (col("m2") * col("sum_xy") - col("sum_x") * col("sum_x"))
            .as("r_num"),
          (col("m2") * col("sum_xx") - col("sum_x") * col("sum_x"))
            .as("r_den"))
    },

    // CONDUCTANCE per community (Kannan–Vempala–Vetta 2004) — the
    // cut-quality complement of q165's modularity, on the SAME
    // detect-then-score dataflow (4 LPA rounds over the k-NN spine):
    // how leaky is each detected community? φ in exact integer basis
    // points with cut/vol/m riding along. Scale shape ≡ q165's (keyed
    // joins + one broadcast m scalar).
    "q236_conductance" -> { (s, d) =>
      val ed = graft.Checkpoints.checkpoint(knnEdges(s, d))
      Graph.conductance(ed, Graph.labelPropagation(ed, rounds = 4))
    },

    // RECIPROCITY census of the DIRECTED k-NN pick graph (the q187
    // substrate): how many picks are mutual? The classic directed-
    // graph health scalar (Newman 2003 §4) — n_mutual counts directed
    // edges whose reverse pick also exists (so it is even by
    // construction, a parity the spec pins), reciprocity in exact
    // basis points. One self-equi-join on the reversed key + one
    // global aggregate — shuffle-keyed, no broadcast needed at scale.
    "q237_knn_reciprocity" -> { (s, d) =>
      val de = knnDirected(s, d)
      val mutual = de.join(
        de.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      de.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
        .select(col("n_edges"), col("n_mutual"),
          expr("n_mutual * 10000 div n_edges").as("recip_x10k"))
    },

    // DIRECTED citation-style PageRank (3 rounds, damping 85/100,
    // scale 1e12) with explicit dangling-mass redistribution — the
    // centrality q87 cannot express (pageRankInt symmetrizes; the
    // reference's citation graph is directed, `models.scala:28`).
    // Direction is citation-like and fully data-derived: each k-NN
    // spine edge points from the YOUNGER supplier (later first co-ship
    // year, tie → higher key) to the OLDER — later work cites earlier,
    // so the oldest suppliers are genuine sinks and the dangling path
    // is exercised on every round. Oracle: the same integer rounds
    // unrolled as CTEs, dangling mass as a scalar per-round CTE.
    "q98_citation_pagerank" -> { (s, d) =>
      Graph.pageRankDirectedInt(citationEdges(s, d))
    },

    // Integer HITS over the citation spine — hubs (surveys: cite many
    // good authorities) vs authorities (seminal: cited by good hubs),
    // the directed-centrality pair q98's PageRank can't separate.
    // Exact int64 L1-rescaled rounds (Graph.hitsInt), unrolled as
    // oracle CTEs with the per-half-round totals as scalar CTEs.
    "q104_citation_hits" -> { (s, d) =>
      Graph.hitsInt(citationEdges(s, d))
    },

    // q98 weighted by citation MULTIPLICITY: each citing vertex splits
    // its rank mass proportionally to per-pair co-ship counts instead
    // of uniformly — the reference counts citations WITH multiplicity
    // (`DynamicNet.scala:256-263`), so this is the faithful rank. Same
    // int64 discipline; per-edge share (r·w) div W(s) unrolls in the
    // oracle exactly like the uniform form.
    // STRONGLY connected components over the DIRECTED k-NN pick graph
    // (each supplier → its 3 strongest collaborators; unreciprocated
    // picks stay one-way, so the digraph is cyclic in the wild — at
    // sf0.1 one giant 870-vertex SCC plus 2/3/7-vertex satellites and
    // 104 singleton periphery vertices, the bow-tie shape of real
    // citation/web graphs). Forward-backward min-reachability
    // coloring with trim; scc_id = min member. A first-seen-YEAR
    // direction (the q98 citation DAG) was rejected: tie-broken it is
    // acyclic (every SCC a singleton), tie-mutual it collapses to one
    // all-1992 clique — both degenerate.
    "q187_citation_scc" -> { (s, d) =>
      val scc = sccSpine(s, d)
      val sizes = scc.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("n_members"))
      scc.join(sizes, Seq("scc_id"))
        .select(col("v").as("supp"), col("scc_id"), col("n_members"))
    },

    // CONDENSATION of the citation SCCs — the DAG a scheduler or
    // generation-analysis consumer reads once cycles are contracted
    // (the classic SCC -> condensation step): one row per ordered
    // pair of distinct SCCs with the directed cross-edge count.
    // Serves from the pinned SCC spine (the build/serve split — the
    // fixpoint never reruns per consumer); two keyed joins + one
    // aggregate, all hash-partitioned.
    "q199_citation_condensation" -> { (s, d) =>
      condensationEdges(s, d)
        .groupBy(col("scc_a"), col("scc_b"))
        .agg(count(lit(1)).as("n_cross_edges"))
    },

    // Topological GENERATIONS over the condensation — the stratum
    // assignment the citation layer reads once cycles are contracted
    // (generation = longest chain of distinct mutual-citation
    // clusters leading to this one). Condensation edges from the
    // pinned SCC spine, then Graph.dagGenerations' monotone Bellman
    // relax; isolated SCCs (no condensation edge) are generation 0.
    // On a non-DAG the operator's convergence require would fire —
    // acyclicity is not assumed, it is enforced.
    "q200_citation_generations" -> { (s, d) =>
      val scc = sccSpine(s, d)
      val gens = Graph.dagGenerations(condensationEdges(s, d)
        .select(col("scc_a").as("src"), col("scc_b").as("dst")))
      val sizes = scc.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("n_members"))
      sizes
        .join(gens.select(col("v").as("scc_id"), col("generation")),
          Seq("scc_id"), "left")
        .na.fill(0L, Seq("generation"))
        .select(col("scc_id"), col("generation"), col("n_members"))
    },

    // Louvain-style local-move refinement over the q147 LPA labels —
    // closes the community family: detect (q147) → score (q165) →
    // refine (q188). Two guarded synchronous rounds in exact integer
    // ΔQ arithmetic; Q(refined) ≥ Q(LPA) by construction (GraphSpec
    // asserts it on this spine).
    "q188_communities_refined" -> { (s, d) =>
      refinedLabelsSpine(s, d)
    },

    // MULTI-LEVEL Louvain over the k-NN spine — the coarsen-and-repeat
    // level q188 stops short of (r12 VERDICT item 5): level 1 = the
    // exact q188 partition; contraction to the weighted community
    // multigraph (self-loops carry internal mass, m preserved); two
    // weighted guarded move rounds on the coarse graph; labels
    // projected back. Q monotone across levels by the same
    // improve-or-single-best guard (GraphSpec asserts it on this
    // spine); every level's rounds unroll in the oracle.
    "q251_louvain_multilevel" -> { (s, d) =>
      Graph.louvainTwoLevel(knnEdges(s, d),
        level1 = Some(refinedLabelsSpine(s, d)))
    },

    "q105_citation_pagerank_weighted" -> { (s, d) =>
      Graph.pageRankDirectedInt(citationEdges(s, d), weightCol = "weight")
    },

    // DIRECTIONAL per-year citation counting over the citation spine —
    // the reference's DynamicNet per-year citation aggregation
    // (`DynamicNet.scala:256-263`) re-expressed: each directed edge
    // (citing → cited) contributes its pair's per-year co-ship counts
    // to the CITED side only. One keyed join + one groupBy over the
    // materialized spine; direction from [[citationEdges]].
    "q102_citations_by_year" -> { (s, d) =>
      val ty = pairYears(s, d).filter(col("yr").isNotNull)
        .groupBy(col("a"), col("b"), col("yr")).agg(count(lit(1)).as("n"))
      citationEdges(s, d)
        .join(ty, least(col("src"), col("dst")) === col("a") &&
          greatest(col("src"), col("dst")) === col("b"))
        .groupBy(col("dst"), col("yr"))
        .agg(sum(col("n")).as("cites_received"))
        .select(col("dst").as("cited"), col("yr"), col("cites_received"))
    },

    // k-core (k=25) by iterative degree peel on the same weight>=6
    // substrate as q99 — the cheap cohesion cut (no triangle work; a
    // k-truss always sits inside the (k-1)-core). Measured peel depth
    // 9 at sf0.1 (13915 surviving edges, 824 vertices); sf0.01's
    // complete co-ship graph is its own 25-core (fixpoint round 0).
    // Oracle: the peel unrolled 12 MATERIALIZED rounds.
    "q103_kcore" -> { (s, d) =>
      Graph.kCore(
        coShip(s, d).filter(col("weight") >= TrussMinWeight)
          .select(col("a"), col("b")),
        k = KCoreK)
        .select(col("u").as("a"), col("v").as("b"))
    },

    // Temporal edge churn over the co-ship long form — the evolution
    // measure of the reference's dynamic-network layer (G7's per-year
    // DLink attributes aggregated to the network level): per active
    // year, edges active / first-ever / not recurring from the prior
    // year. Oracle replays the distinct-(edge, year) pass + the three
    // aggregations (NOT EXISTS for the loss anti-join).
    "q151_edge_churn" -> { (s, d) =>
      Graph.edgeChurn(pairYears(s, d).filter(col("yr").isNotNull),
        "a", "b", "yr")
    },

    // COMMUNITY DETECTION by synchronous label propagation on the
    // k-NN spine (111 communities at sf0.1, sizes 2..72 — the spine's
    // local clusters, unlike the near-clique weight substrate):
    // 4 deterministic rounds, most-frequent-neighbor label with min
    // tie-break. Oracle unrolls the rounds (the pageRankInt
    // discipline — synchronous + deterministic is what makes LPA
    // oracle-able at all; asynchronous update order is engine
    // -internal).
    "q147_communities" -> { (s, d) =>
      Graph.labelPropagation(knnEdges(s, d), rounds = 4)
    },

    // SEMI-SUPERVISED label spreading (Graph.labelSpread scaladoc) —
    // the 3 lowest spine vertices carry their own id as a CLAMPED
    // ground-truth label; 4 synchronous majority rounds spread the
    // labels into their basins. The training-data-labeling modality
    // (few labels + similarity graph → labels for the reachable
    // rest), distinct from q147's unclamped community LPA. Seeds via
    // a distributed orderBy-limit — no driver collect.
    "q179_label_spread" -> { (s, d) =>
      val ed = graft.Checkpoints.checkpoint(knnEdges(s, d))
      val seeds = ed.select(col("a").as("v"))
        .union(ed.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .select(col("v"), col("v").as("label"))
      Graph.labelSpread(ed, seeds, rounds = 4)
    },

    // MODULARITY of the q147 partition — the quality score that makes
    // community detection auditable: Q = Σ_c [e_in(c)/m − (deg_c/2m)²],
    // reported per community in EXACT integer form as
    // contrib = 4m·e_in − deg_sum² (so Σ contrib = 4m²·Q — the
    // q66/q96 ratio discipline applied to partition quality). Per
    // community: vertex count, internal edges, degree mass, and the
    // scaled contribution; m rides along as a broadcast scalar (q42
    // shape). The labels are recomputed through the same 4 LPA rounds
    // the oracle unrolls, so the whole detect-then-score dataflow is
    // under one hash gate.
    "q165_modularity" -> { (s, d) =>
      val ed = graft.Checkpoints.checkpoint(knnEdges(s, d))
      Graph.modularity(ed, Graph.labelPropagation(ed, rounds = 4))
    },

    // FULL core decomposition (per-vertex core number via h-index
    // propagation — Graph.coreNumbers) on the q103 substrate, gated
    // through its literal-k slices: {v : core(v) ≥ k} must equal the
    // k-core vertex set at k ∈ {2, 12, 25}, which the oracle replays
    // as one CHAINED peel (2-core → 12-core of it → 25-core of that;
    // the k-core of a j≤k-core IS the k-core, so chaining ≡ three
    // from-scratch peels at a third of the rounds). k=25 reuses q103's
    // exact threshold; GraphSpec additionally pins coreNumbers ≡
    // kCore at EVERY k on fixtures and the sf0.001 substrate.
    "q145_core_numbers" -> { (s, d) =>
      val cores = Graph.coreNumbers(
        coShip(s, d).filter(col("weight") >= TrussMinWeight)
          .select(col("a"), col("b")))
      CoreSliceKs.map(k =>
          cores.filter(col("core") >= k)
            .select(lit(k.toLong).as("k"), col("v")))
        .reduce(_ union _)
    },

    // k-truss community cores (k=4) by iterative peel over per-edge
    // triangle support (q97 is the one-round building block; this is
    // the fixpoint). Substrate: the co-ship graph at weight >=
    // TrussMinWeight — the k-NN spine is triangle-starved by
    // construction (per-vertex top-3 keeps few wedges closed; measured
    // max support 2), while the weight-thresholded graph peels through
    // a real cascade (7 rounds to fixpoint at sf0.1, 810 surviving
    // core edges). Oracle: the peel unrolled — extra rounds past the
    // fixpoint are no-ops on both engines, so the unroll depth only
    // needs to COVER the fixture's peel depth (measured 7; unroll 10;
    // GraphSpec asserts brute-force equivalence on random graphs).
    "q99_ktruss" -> { (s, d) =>
      Graph.kTruss(
        coShip(s, d).filter(col("weight") >= TrussMinWeight)
          .select(col("a"), col("b")),
        k = 4)
        .select(col("u").as("a"), col("v").as("b"))
    },

    // Ego BFS to depth 2 (one distributed job per level, frontier as a
    // DataFrame — the reference's crawl without driver round-trips).
    "q35_ego_bfs" -> { (s, d) =>
      Graph.egoBfs(s, strongEdges(s, d).select(col("a"), col("b")),
        seed = 1L, depth = 2)
    },

    // G8: FK-closed deterministic sample ("MAG dwarf") — lineitem rows
    // of a root order sample, via broadcast semi-join.
    "q36_dwarf_sample" -> { (s, d) =>
      val roots = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey"))
      graft.operators.Joins.fkClosedSample(
        Tables.lineitem(s, d), "l_orderkey", roots, "o_orderkey")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"))
    },

    // G8 extended through the AUX catalog (the r12 VERDICT's top
    // coverage gap): the q36 dwarf's FK closure pulled through TWO
    // auxiliary MAG relations — PaperUrls and PaperLanguages read from
    // a TSV fixture via the DECLARED aux schemas
    // (graft.schema.MagTables, `MagDwarf.scala:142-147` sample set) —
    // then a per-(language, source-type) census over the closed
    // sample. Both aux tables are closed with the same broadcast
    // semi-join as the root sample (fkClosedSample), the 100 TB shape:
    // the root key set stays driver-small while each aux relation
    // streams once. DuckDB reads the SAME TSV files, so the
    // PERMISSIVE declared-schema ingest is itself under the hash gate.
    "q249_aux_dwarf" -> { (s, d) =>
      val dir = magAuxDir(s, d)
      val roots = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0).select(col("o_orderkey"))
      val urls = graft.operators.Joins.fkClosedSample(
        graft.schema.MagTables.paperUrls(s, dir), "paper",
        roots, "o_orderkey")
      val langs = graft.operators.Joins.fkClosedSample(
        graft.schema.MagTables.paperLanguages(s, dir), "paper",
        roots, "o_orderkey")
      urls.select(col("paper"), col("sourceType").as("source_type"),
          col("url"))
        .join(langs.select(col("paper"), col("language")), Seq("paper"))
        .groupBy(col("language"), col("source_type"))
        .agg(countDistinct(col("paper")).as("n_papers"),
          count(lit(1)).as("n_urls"),
          sum(length(col("url")).cast("long")).as("url_chars"))
    },

    // CITATION-CONTEXT text analysis over the reference's native
    // PaperCitationContexts shape (`data/samples/
    // PaperCitationContexts.txt`, SURVEY §0.3 — the text analysis the
    // reference intended but never wired): ingest the context TSV via
    // the DECLARED aux schema, tokenize each context with the engine's
    // norm/words pair, and rank each CITED vertex's distinctive terms
    // by integer PMI-lift (n_cw·N·10⁴ div (n_c·n_w) — the q176 lift
    // discipline, no runtime log), top-3 per cited with deterministic
    // (lift desc, word) tie-break. The whole chain — spine edge →
    // context row → token → lift — is one scan + keyed aggregates;
    // the global token total is a broadcast 1-row scalar.
    "q250_citation_context_terms" -> { (s, d) =>
      val ctx = graft.schema.MagTables.paperCitationContexts(
        s, citationContextsDir(s, d))
      val toks = ctx.select(col("cited"),
          explode(graft.functions.TextFns.words(
            graft.functions.TextFns.norm(col("context")))).as("word"))
        .filter(col("word") =!= "")
      val cw = toks.groupBy(col("cited"), col("word"))
        .agg(count(lit(1)).as("n_cw"))
      val nc = toks.groupBy(col("cited")).agg(count(lit(1)).as("n_c"))
      val nw = toks.groupBy(col("word")).agg(count(lit(1)).as("n_w"))
      val nn = toks.agg(count(lit(1)).as("n"))
      val scored = cw.filter(col("n_cw") >= 2)
        .join(nc, Seq("cited"))
        .join(nw, Seq("word"))
        .crossJoin(broadcast(nn))
        .select(col("cited"), col("word"), col("n_cw"),
          expr("n_cw * n * 10000 div (n_c * n_w)").as("lift_x10k"))
      graft.operators.Relational.topKPerGroup(scored,
          Seq(col("cited")),
          Seq(col("lift_x10k").desc, col("word").asc), k = 3)
        .select(col("cited"), col("word"), col("n_cw"),
          col("lift_x10k"), col("rn"))
    },

    // FieldOfStudyRelationship census via the declared 7-col aux
    // schema (`data/samples/FieldOfStudyRelationship.txt` shape): the
    // denormalized fos-pair relation aggregated by (type1, type2) with
    // the float weight summed in cross-engine-stable integer form —
    // both engines parse the SAME decimal strings to identical IEEE
    // doubles and apply the identical ×10⁴/floor, so the sum
    // hash-matches without a tolerance.
    "q254_fos_relationship_census" -> { (s, d) =>
      graft.schema.MagTables.fieldOfStudyRelationship(s, magAuxDir(s, d))
        .groupBy(col("type1"), col("type2"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("fos1")).as("n_fields"),
          sum(floor(col("weight") * 10000).cast("long")).as("weight_x10k"))
    },

    // ConferenceInstances seasonality census via the declared 15-col
    // aux schema — the DATE-heavy aux relation end-to-end: per
    // start-year, instance count, distinct series, total span days and
    // submission lead days (datediff on the parsed DATE columns), and
    // the missing-abstract-deadline count (the real dump's empty date
    // fields must land as NULLs, not epoch garbage).
    "q255_conference_seasons" -> { (s, d) =>
      graft.schema.MagTables.conferenceInstances(s, magAuxDir(s, d))
        .groupBy(year(col("startDate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_instances"),
          countDistinct(col("series")).as("n_series"),
          sum(datediff(col("endDate"), col("startDate")).cast("long"))
            .as("span_days"),
          sum(datediff(col("startDate"), col("submissionDueDate"))
            .cast("long")).as("lead_days"),
          sum(when(col("abstractDueDate").isNull, 1L).otherwise(0L))
            .as("n_missing_abstract"),
          sum(col("papers")).as("papers_mass"))
    },

    // PaperRecommendations reciprocity census via the declared aux
    // schema (the snapshot's own "Recommandations" spelling): per
    // score level, edge count, distinct sources, and how many edges
    // are MUTUAL (A recommends B and B recommends A, any score) — the
    // recommendation-graph symmetry a ranking consumer audits first.
    "q256_reco_reciprocity" -> { (s, d) =>
      val rec = graft.schema.MagTables.paperRecommendations(
        s, magAuxDir(s, d))
      // DISTINCT before the probe join: a real dump carries duplicate
      // (paper, recommended) rows (re-scored recommendations), and a
      // non-deduplicated mutual side would fan out every matching
      // probe row, inflating n_edges and n_mutual.
      val mutual = rec.select(col("paper").as("mp"),
        col("recommended").as("mr")).distinct()
      rec.join(mutual, col("paper") === col("mr") &&
          col("recommended") === col("mp"), "left")
        .select(col("paper"), col("recommended"), col("score"),
          when(col("mp").isNotNull, 1L).otherwise(0L).as("is_mutual"))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n_edges"),
          countDistinct(col("paper")).as("n_src"),
          sum(col("is_mutual")).as("n_mutual"))
    },

    // Unified venue catalog over Journals + ConferenceSeries via their
    // declared schemas — the reference's venue dimension pair under
    // one census: per (kind, has_issn), venue count and paper/citation
    // mass. Journals carry issn for ~1/3 of rows (the real table's
    // sparsity — PERMISSIVE turns the empty field into NULL);
    // conference series have no issn column at all and book under
    // has_issn = 0.
    "q257_venue_catalog" -> { (s, d) =>
      val dir = magAuxDir(s, d)
      val j = graft.schema.MagTables.journals(s, dir)
        .select(lit("journal").as("kind"),
          when(col("issn").isNotNull, 1L).otherwise(0L).as("has_issn"),
          col("papers"), col("citations"))
      val cs = graft.schema.MagTables.conferenceSeries(s, dir)
        .select(lit("conference").as("kind"), lit(0L).as("has_issn"),
          col("papers"), col("citations"))
      j.unionByName(cs)
        .groupBy(col("kind"), col("has_issn"))
        .agg(count(lit(1)).as("n_venues"),
          sum(col("papers")).as("papers_mass"),
          sum(col("citations")).as("citations_mass"))
    },

    // CONFERENCE-WINDOW order attribution — the aux catalog joined
    // through the q81 bucketized interval machinery: each order lands
    // in every ConferenceInstance whose [startDate, endDate] span
    // (read via the declared 15-col schema, dates → epoch days)
    // contains its order date. The bare date-range predicate would
    // plan as a nested-loop cross product; Joins.intervalJoin's
    // bucket explosion makes it a hash join (8-day buckets ≈ the
    // 1–5-day span scale). Per conference: attributed order count and
    // cent-exact revenue mass.
    "q260_conference_orders" -> { (s, d) =>
      val epoch = lit("1970-01-01")
      val conf = graft.schema.MagTables.conferenceInstances(
          s, magAuxDir(s, d))
        .select(col("id").as("conf_id"),
          datediff(col("startDate"), epoch).cast("long").as("d_start"),
          // endDate inclusive → half-open end+1
          (datediff(col("endDate"), epoch) + 1).cast("long").as("d_end"))
      val ords = Tables.orders(s, d)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("d_ord"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.Joins.intervalJoin(ords, conf,
          "d_ord", "d_start", "d_end", bucketWidth = 8L)
        .groupBy(col("conf_id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("revenue_cents"))
    },

    // J7: disjunctive-predicate join rewritten as a union of two
    // hash-joins (never a nested-loop join).
    "q37_disjunctive_join" -> { (s, d) =>
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val e = Tables.events(s, d).select(col("user_id"))
      graft.operators.Joins.disjunctiveEquiJoin(e, c,
          col("user_id") === col("c_custkey"),
          col("user_id") === col("c_nationkey"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_matched_events"))
    },

    // G7: temporal edge attributes in canonical long form (per-year
    // co-ship counts per pair); the nested-map form is export-only
    // (Graph.toTemporalEdges).
    "q40_temporal_edges" -> { (s, d) =>
      pairYears(s, d).filter(col("yr").isNotNull) // oracle inner-joins orders
        .groupBy(col("a").as("s1"), col("b").as("s2"), col("yr"))
        .agg(count(lit(1)).as("n"))
        .select(col("s1"), col("s2"), col("yr"), col("n"))
    },

    // TEMPORAL earliest-arrival reachability over the per-year co-ship
    // edges from the 3 lowest spine vertices (the q142 landmark
    // convention): an edge is traversable only at a year ≥ the arrival
    // year at its tail, so the result differs from static BFS wherever
    // the only static path runs backward in time. Sources carry the
    // -1 "before everything" sentinel.
    "q191_temporal_reach" -> { (s, d) =>
      val te = pairYears(s, d).filter(col("yr").isNotNull)
        .select(col("a"), col("b"), col("yr")).distinct()
      val srcs = te.select(col("a").as("v"))
        .union(te.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      Graph.earliestArrival(te, srcs, "a", "b", "yr")
    },

    // Correlated-subquery shape (TPC-H Q2): per-group argmin join —
    // the cheapest supplier per part among its lineitems.
    "q41_min_cost_supplier" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val minPrice = li.groupBy(col("l_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      li.join(minPrice, "l_partkey")
        .filter(col("l_extendedprice") === col("min_price"))
        .groupBy(col("l_partkey"), col("min_price"))
        .agg(min(col("l_suppkey")).as("s_min")) // dedup exact-price ties
        .select(col("l_partkey"), col("s_min"), col("min_price"))
    },

    // As-of join (operator Spark lacks; composed union+window form,
    // oracle = DuckDB's native ASOF LEFT JOIN): each event matched to
    // the user's latest order at or before the event time.
    "q46_asof_last_order" -> { (s, d) =>
      val lastPerDay = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      graft.operators.Joins.asOfJoin(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts")),
          lastPerDay, "user_id", "o_custkey", "ts", "o_orderdate",
          Seq("last_orderkey"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
    },

    // Same as-of semantics through the NATIVE custom operator
    // (AsOfJoinPlan -> AsOfJoinStrategy -> AsOfJoinExec, the
    // whole-operator extension path): co-partitioned sorted-merge with
    // one buffered right row, vs q46's union+window composition. Same
    // DuckDB ASOF oracle.
    "q58_asof_native" -> { (s, d) =>
      val lastPerDay = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
        .withColumn("o_ts", col("o_orderdate").cast("timestamp"))
      graft.operators.Joins.asOfJoinNative(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts")),
          lastPerDay, "user_id", "o_custkey", "ts", "o_ts",
          Seq("last_orderkey"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
    },

    // Skew-salted equi-join (SURVEY §4 skew handling): lineitem is
    // maximally skewed on suppkey (100 suppliers x ~6k lines each at
    // sf0.1), the salt spreads each hot key over 8 reducers. Oracle is
    // the plain join — salting must be a pure physical rewrite.
    "q61_salted_join" -> { (s, d) =>
      graft.operators.Joins.saltedJoin(
          Tables.lineitem(s, d).select(col("l_suppkey"), col("l_quantity")),
          Tables.supplier(s, d).select(col("s_suppkey").as("l_suppkey"),
            col("s_nationkey")),
          "l_suppkey")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(dec(col("l_quantity"))), 2).cast("double").as("sum_qty"))
    },

    // Single-source weighted shortest paths (bounded Bellman-Ford,
    // 4 relaxation rounds) from the spine's minimum vertex, edge cost
    // = 1 + 1000 div co-ship weight (strong ties are short). All-int64
    // so the oracle unrolls the same 4 rounds exactly; the frontier
    // stays sparse (no INF sentinels). The source is a bounded driver
    // scalar, like the loop parameters of the other iterative queries.
    "q110_shortest_paths" -> { (s, d) =>
      val e = coShip(s, d)
      val wk = knnEdges(s, d)
        .join(e.select(col("a"), col("b"), col("weight")), Seq("a", "b"))
        .select(col("a"), col("b"),
          (lit(1L) + expr("1000 div weight")).as("w"))
      val src = wk.agg(least(min(col("a")), min(col("b")))).head.getLong(0)
      Graph.shortestPathsInt(wk, src, rounds = 4)
    },

    // Multi-source BFS (landmark distances): hop levels from the 3
    // lowest spine vertices in ONE loop, depth 3 — the closeness /
    // landmark-embedding primitive. Sources are a bounded driver
    // scalar (3 ids); the oracle unrolls the same 3 min-level rounds.
    "q114_multi_source_bfs" -> { (s, d) =>
      val e = knnEdges(s, d)
      val srcs = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      Graph.multiSourceBfs(e, srcs, depth = 3)
    },

    // Landmark CLOSENESS centrality — the aggregation the landmark
    // BFS exists for: per source, vertices reached and total hop
    // distance within the horizon. Closeness = (n_reached − 1) /
    // total_dist, kept as the exact integer pair (the q66 ratio
    // discipline — one terminal IEEE division belongs to the reader).
    // Same spine, sources, and horizon as q114, so the oracle is the
    // q114 unrolled-BFS replay with a GROUP BY on top.
    "q142_landmark_closeness" -> { (s, d) =>
      val e = knnEdges(s, d)
      val srcs = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      Graph.multiSourceBfs(e, srcs, depth = 3)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_reached"),
          sum(col("level")).as("total_dist"))
    },

    // Landmark HARMONIC centrality — the third distance centrality
    // over the q114/q142 landmarks and horizon: harmonic(v) =
    // Σ_s 1/d(s, v), which unlike closeness handles disconnection
    // natively (unreached pairs contribute 0 instead of poisoning a
    // total-distance denominator). Within the depth-3 horizon the
    // denominators are {1, 2, 3}, so the sum stays EXACT scaled by
    // their lcm 6 — 6 div d per reached pair, int64 end-to-end.
    "q161_harmonic_centrality" -> { (s, d) =>
      val e = knnEdges(s, d)
      val srcs = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      Graph.multiSourceBfs(e, srcs, depth = 3)
        .filter(col("level") > 0)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_sources_reached"),
          sum(call_function("div", lit(6L), col("level")))
            .as("harmonic_x6"))
    },

    // Sampled-source STRESS centrality — the through-traffic measure
    // over q142's landmarks and horizon: how many shortest paths from
    // the 3 lowest spine vertices pass THROUGH each vertex. Stress is
    // the integer sibling of betweenness (Brandes' betweenness
    // accumulation needs rational path FRACTIONS no cross-engine
    // float replay survives; stress counts whole paths in int64), so
    // BOTH passes — forward σ path counts, backward shortest-path
    // tail counts — unroll into the oracle round by round.
    "q156_stress_centrality" -> { (s, d) =>
      val e = knnEdges(s, d)
      val srcs = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      Graph.stressCentrality(e, srcs, depth = 3)
    },

    // Deterministic uniform random walks over the k-NN spine — the
    // DeepWalk/node2vec (p = q = 1) training-corpus primitive: 2
    // walks × 4 hops from every vertex, each hop an LCG-hash pick
    // into the id-ranked neighbor list. No RNG state → reproducible,
    // partitioning-independent, and the oracle replays every hop.
    "q157_random_walks" -> { (s, d) =>
      Graph.randomWalks(knnEdges(s, d), numWalks = 2, steps = 4)
    },

    // node2vec-biased walks — q157's corpus generator upgraded to the
    // SECOND-ORDER transition (Grover & Leskovec's return/in-out
    // bias, p = q = 2 as exact integer weights 1/2/1): each hop after
    // the uniform first weights candidates by their relation to the
    // predecessor, picked by LCG hash against the running weight sum.
    // The oracle replays every hop, common-neighbor EXISTS included.
    "q160_node2vec_walks" -> { (s, d) =>
      Graph.biasedWalks(knnEdges(s, d), numWalks = 2, steps = 4)
    },

    // Walk-PMI pairs — the IMPLICIT matrix DeepWalk/node2vec
    // factorizes (Levy & Goldberg NeurIPS'14; Qiu et al. WSDM'18
    // NetMF — both public): skip-gram window-2 co-occurrence counts
    // over the engine's own q160 biased walks, scored with q158's
    // exact-integer PMI lift (one rounded IEEE division). The top
    // pairs are the graph-embedding similarity features without
    // training an embedding. Self-pairs from walk revisits are
    // excluded (the diagonal is not a similarity signal). Scale
    // shape: walks are linear in vertices, the co-occurrence join is
    // keyed by walk id with a ≤ 5-row window per walk, counts are
    // vocabulary-keyed, the total is a 1-row broadcast (q158 shape).
    "q220_walk_pmi" -> { (s, d) =>
      val wk = graft.Checkpoints.checkpoint(
        Graph.biasedWalks(knnEdges(s, d), numWalks = 2, steps = 4))
      val a = wk.select(col("start_v"), col("walk_j"),
        col("step").as("i"), col("v").as("u"))
      val b = wk.select(col("start_v"), col("walk_j"),
        col("step").as("j"), col("v").as("w"))
      val cnt = graft.Checkpoints.checkpoint(
        a.join(b, Seq("start_v", "walk_j"))
          .filter(abs(col("i") - col("j")).between(1, 2) &&
            col("u") =!= col("w"))
          .groupBy(col("u"), col("w")).agg(count(lit(1)).as("n_uw")))
      val cu = cnt.groupBy(col("u")).agg(sum(col("n_uw")).as("n_u"))
      val cw = cnt.groupBy(col("w")).agg(sum(col("n_uw")).as("n_w"))
      val tot = cnt.agg(sum(col("n_uw")).as("n_total"))
      cnt.filter(col("n_uw") >= 2)
        .join(cu, "u").join(cw, "w")
        .crossJoin(broadcast(tot))
        .withColumn("lift", round(
          (col("n_uw") * col("n_total")).cast("double") /
            (col("n_u") * col("n_w")), 4))
        .orderBy(col("lift").desc, col("u"), col("w"))
        .limit(50)
        .select(col("u"), col("w"), col("n_uw"), col("n_u"), col("n_w"),
          col("n_total"), col("lift"))
    },

    // PERSONALIZED PageRank over the citation spine — importance
    // relative to a 3-vertex seed set (the lowest spine ids, the q114
    // landmark convention): teleport and dangling mass restart to the
    // seeds, ranks start on the seeds, unreachable vertices hold
    // exactly 0. Exact int64 throughout, so the oracle unrolls the
    // rounds with the seed-gated teleport term; GraphSpec pins
    // seeds=ALL ≡ the uniform directed form.
    "q143_personalized_pagerank" -> { (s, d) =>
      // two consumers (the seed pick and the rank loop's edge
      // checkpoint) — materialize the citation spine once
      val ce = graft.Checkpoints.checkpoint(citationEdges(s, d))
      val seeds = ce.select(col("src").as("v"))
        .union(ce.select(col("dst").as("v")))
        .distinct().orderBy(col("v")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      // The oracle's integer arithmetic divides by the literal seed
      // count 3 ($S // 3); if the spine ever yields fewer vertices the
      // two engines would silently diverge — fail loudly instead.
      require(seeds.size == 3,
        s"q143 oracle assumes exactly 3 seeds, spine yielded ${seeds.size}")
      Graph.pageRankPersonalizedInt(ce, seeds)
    },

    // Pure-SQL composition over the REGISTERED graph views — proves a
    // SQL-only user reaches the graph layer (components, triangles)
    // without touching the Scala API: per component, vertex count and
    // total triangle participation. Oracle composes the recursive-CTE
    // components twin with the naive-3-join triangle twin on the same
    // k-NN substrate.
    "q109_graph_views_sql" -> { (s, d) =>
      registerGraphViews(s, d)
      s.sql("""SELECT c.comp,
              |  CAST(count(*) AS BIGINT) AS n_vertices,
              |  CAST(coalesce(sum(t.n_triangles), 0) AS BIGINT)
              |    AS total_triangles,
              |  CAST(count(CASE WHEN t.n_triangles IS NULL THEN 1 END)
              |    AS BIGINT) AS n_triangle_free
              |FROM components c
              |LEFT JOIN triangle_counts t ON c.v = t.v
              |GROUP BY c.comp""".stripMargin)
    },

    // Skew SURVIVAL on a pathologically hot key (SURVEY §7.4.1's
    // mega-author case, synthesized): every 5th order's lines collapse
    // onto supplier key 1, so ONE key holds ~20% of lineitem — the
    // shape that turns an unsalted shuffle join into a single
    // straggler task. Same salted path as q61 at factor 32; oracle is
    // the plain join (salting must stay a pure physical rewrite).
    // JoinsSpec asserts the partition-spread property on the same salt
    // formula; ScaleProbe records the salted-vs-unsalted wall times
    // with broadcast and AQE skew handling disabled. doc/hash
    // contract: % needs key >= 0 on both engines.
    "q107_skewed_salted_join" -> { (s, d) =>
      val skewed = Tables.lineitem(s, d)
        .filter(col("l_orderkey") >= 0)
        .select(when(col("l_orderkey") % 5 === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("k"), col("l_quantity"))
      graft.operators.Joins.saltedJoin(skewed,
          Tables.supplier(s, d).select(col("s_suppkey").as("k"),
            col("s_nationkey")),
          "k", factor = 32)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(dec(col("l_quantity"))), 2).cast("double").as("sum_qty"))
    },

    // Scalar-aggregate comparison (TPC-H Q11): groups whose share of a
    // GLOBAL aggregate exceeds a threshold (broadcast scalar join).
    // All-decimal arithmetic with an integer-scaled comparison
    // (value*1500 > total) — a double threshold would flip near-boundary
    // groups between engines.
    "q42_important_parts" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val partValue = li.groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("value"))
      val total = partValue.agg(sum(col("value")).as("total"))
      partValue.crossJoin(broadcast(total))
        .filter(col("value") * 1500 > col("total"))
        .select(col("l_partkey"),
          round(col("value"), 2).cast("double").as("part_value"))
    }
  )

  private val coShipSql =
    """a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (SELECT a1.l_orderkey AS ok, a1.l_suppkey AS s1, a2.l_suppkey AS s2
      |      FROM a a1 JOIN a a2 ON a1.l_orderkey = a2.l_orderkey
      |                         AND a1.l_suppkey < a2.l_suppkey),
      |j AS (SELECT p.s1, p.s2, CAST(year(o.o_orderdate) AS BIGINT) AS yr
      |      FROM p JOIN orders o ON p.ok = o.o_orderkey),
      |e AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS orders_together,
      |             CAST(min(yr) AS BIGINT) AS first_year
      |      FROM j GROUP BY s1, s2)""".stripMargin

  // DuckDB twin of [[knnEdges]] (composes after coShipSql's `e`)
  private val knnSql =
    s"""sym AS (SELECT s1 AS s, s2 AS nbr, orders_together AS w FROM e
       |        UNION ALL
       |        SELECT s2 AS s, s1 AS nbr, orders_together AS w FROM e),
       |rk AS (SELECT s, nbr,
       |         row_number() OVER (PARTITION BY s ORDER BY w DESC, nbr) AS rn
       |       FROM sym),
       |ed AS (SELECT DISTINCT least(s, nbr) AS a, greatest(s, nbr) AS b
       |       FROM rk WHERE rn <= $KnnK)""".stripMargin

  // DuckDB twin of Graph.pageRankInt on the k-NN spine: the three
  // integer rounds unrolled (no recursion needed — the iteration count
  // is a fixed parameter of the query, not data-dependent)
  /** The q160 biased-walk replay chain (uniform first hop, then the
    * CASE-weighted modular pick per hop), WITHOUT the final select —
    * shared verbatim by q160 (walk relation) and q220 (walk-PMI over
    * it), so the two replays can never drift. */
  private lazy val n2vWalksChainSql: String = {
    def seed(t: Int) =
      lcgHashSql(s"w.v * 1000 + w.walk_j * 101 + $t * 11")
    def pickSeed(t: Int) =
      lcgHashSql(s"v * 1000 + walk_j * 101 + $t * 11")
    def hop(t: Int) =
      s"""c$t AS (SELECT w.start_v, w.walk_j, w.prev, w.v, nadj.d AS nw
         |        FROM s${t - 1} w JOIN nadj ON w.v = nadj.s),
         |wt$t AS (SELECT *, CASE WHEN nw = prev THEN 1
         |           WHEN EXISTS (SELECT 1 FROM nadj e
         |                        WHERE e.s = prev AND e.d = nw) THEN 2
         |           ELSE 1 END AS wgt FROM c$t),
         |cw$t AS (SELECT *,
         |           sum(wgt) OVER (PARTITION BY start_v, walk_j
         |             ORDER BY nw ROWS UNBOUNDED PRECEDING) AS cum,
         |           sum(wgt) OVER (PARTITION BY start_v, walk_j) AS tot
         |         FROM wt$t),
         |s$t AS MATERIALIZED (
         |  SELECT start_v, walk_j, v AS prev, nw AS v FROM cw$t
         |  WHERE cum - wgt <= (${pickSeed(t)}) % tot
         |    AND (${pickSeed(t)}) % tot < cum)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |nadj AS (SELECT a AS s, b AS d FROM ed
       |         UNION SELECT b AS s, a AS d FROM ed),
       |nrk AS (SELECT s, d,
       |          CAST(row_number() OVER (PARTITION BY s ORDER BY d) - 1
       |            AS BIGINT) AS idx
       |        FROM nadj),
       |ndg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
       |        FROM nadj GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT vv.v AS start_v, CAST(j.j AS BIGINT) AS walk_j, vv.v
       |  FROM (SELECT DISTINCT s AS v FROM nadj) vv,
       |       (SELECT unnest(generate_series(0, 1)) AS j) j),
       |s1 AS MATERIALIZED (
       |  SELECT w.start_v, w.walk_j, w.v AS prev, nrk.d AS v
       |  FROM s0 w JOIN ndg ON w.v = ndg.s
       |  JOIN nrk ON nrk.s = w.v AND nrk.idx = (${seed(1)}) % ndg.deg),
       |${hop(2)},
       |${hop(3)},
       |${hop(4)}""".stripMargin
  }

  /** The walk relation's final select over [[n2vWalksChainSql]]. */
  private val n2vWalksSelectSql: String =
    """SELECT start_v, walk_j, CAST(0 AS BIGINT) AS step, v FROM s0
      |UNION ALL SELECT start_v, walk_j, CAST(1 AS BIGINT), v FROM s1
      |UNION ALL SELECT start_v, walk_j, CAST(2 AS BIGINT), v FROM s2
      |UNION ALL SELECT start_v, walk_j, CAST(3 AS BIGINT), v FROM s3
      |UNION ALL SELECT start_v, walk_j, CAST(4 AS BIGINT), v FROM s4""".stripMargin

  private lazy val pageRankOracleSql: String = {
    val S = "1000000000000"
    def round(k: Int) =
      s"""c$k AS (SELECT adj.d AS v, sum(r${k - 1}.r // deg.dg) AS m
         |       FROM adj JOIN r${k - 1} ON adj.s = r${k - 1}.v
         |                JOIN deg ON adj.s = deg.s
         |       GROUP BY adj.d),
         |r$k AS (SELECT verts.v,
         |         (15 * ($S // nn.c)) // 100
         |           + (85 * coalesce(c$k.m, 0)) // 100 AS r
         |       FROM verts CROSS JOIN nn
         |            LEFT JOIN c$k ON verts.v = c$k.v)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |adj AS (SELECT a AS s, b AS d FROM ed UNION ALL
       |        SELECT b AS s, a AS d FROM ed),
       |verts AS (SELECT DISTINCT s AS v FROM adj),
       |nn AS (SELECT count(*) AS c FROM verts),
       |deg AS (SELECT s, count(*) AS dg FROM adj GROUP BY s),
       |r0 AS (SELECT v, $S // c AS r FROM verts, nn),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT v, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
  }

  // DuckDB twin of Graph.pageRankDirectedInt over [[citationEdges]]:
  // the directed rounds unrolled, with the per-round dangling mass as
  // a scalar CTE (NOT EXISTS anti-join on the out-degree relation) —
  // every step the same int64 floor arithmetic as the Scala loop.
  // Every round CTE MATERIALIZED: d$k and c$k each reference r${k-1},
  // so inlining doubles the expansion per round (8x by round 3, each
  // expansion dragging the co-ship subtree with it — the q99 fd
  // lesson, seen here as a disk-full temp spill at sf0.1).
  private lazy val directedPageRankOracleSql: String = {
    val S = "1000000000000"
    def round(k: Int) =
      s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS dm
         |       FROM r${k - 1} r
         |       WHERE NOT EXISTS (SELECT 1 FROM od WHERE od.s = r.v)),
         |c$k AS MATERIALIZED (SELECT de.d AS v, sum(r.r // od.odg) AS m
         |       FROM de JOIN r${k - 1} r ON de.s = r.v
         |               JOIN od ON de.s = od.s
         |       GROUP BY de.d),
         |r$k AS MATERIALIZED (SELECT verts.v,
         |         (15 * ($S // nn.c)) // 100
         |           + (85 * (coalesce(c$k.m, 0) + d$k.dm // nn.c)) // 100
         |           AS r
         |       FROM verts CROSS JOIN nn CROSS JOIN d$k
         |            LEFT JOIN c$k ON verts.v = c$k.v)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |$citationEdgeSql,
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |            SELECT s AS v FROM de UNION ALL SELECT d FROM de) sv2),
       |nn AS (SELECT count(*) AS c FROM verts),
       |od AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS odg
       |      FROM de GROUP BY s),
       |r0 AS MATERIALIZED (SELECT v, $S // c AS r FROM verts, nn),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT v, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
  }

  // directedPageRankOracleSql with the seed-gated teleport: teleport
  // and dangling mass go to the 3 lowest spine vertices (isw flag),
  // ranks start on the seeds — term-for-term the Spark recursion
  private lazy val personalizedPageRankOracleSql: String = {
    val S = "1000000000000"
    def round(k: Int) =
      s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS dm
         |       FROM r${k - 1} r
         |       WHERE NOT EXISTS (SELECT 1 FROM od WHERE od.s = r.v)),
         |c$k AS MATERIALIZED (SELECT de.d AS v, sum(r.r // od.odg) AS m
         |       FROM de JOIN r${k - 1} r ON de.s = r.v
         |               JOIN od ON de.s = od.s
         |       GROUP BY de.d),
         |r$k AS MATERIALIZED (SELECT sv.v, sv.isw,
         |         (15 * ($S // 3)) // 100 * sv.isw
         |           + (85 * (coalesce(c$k.m, 0)
         |                    + sv.isw * (d$k.dm // 3))) // 100
         |           AS r
         |       FROM sv CROSS JOIN d$k
         |            LEFT JOIN c$k ON sv.v = c$k.v)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |$citationEdgeSql,
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |            SELECT s AS v FROM de UNION ALL SELECT d FROM de) sv2),
       |seeds AS (SELECT v FROM verts ORDER BY v LIMIT 3),
       |sv AS MATERIALIZED (SELECT verts.v,
       |        CASE WHEN verts.v IN (SELECT v FROM seeds)
       |             THEN 1 ELSE 0 END AS isw
       |      FROM verts),
       |od AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS odg
       |      FROM de GROUP BY s),
       |r0 AS MATERIALIZED (SELECT v, isw, isw * ($S // 3) AS r FROM sv),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT v, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
  }

  /** q99 substrate threshold: co-ship edges this strong form a graph
    * with genuine triangle structure at every tested SF (the k-NN
    * spine is triangle-starved by construction). */
  private val TrussMinWeight = 6

  /** q103 k-core threshold (peel depth 9 at sf0.1 on the
    * [[TrussMinWeight]] substrate — a real cascade, non-empty core). */
  private val KCoreK = 25

  /** Unroll depth of the q103 oracle (must cover the measured peel
    * depth 9; rounds past the fixpoint are no-ops on both engines). */
  private val KCoreUnroll = 12

  /** q145 decomposition slice thresholds: 2 (everything with a cycle),
    * 12 (sf0.1 cascade onset region), 25 (= [[KCoreK]], the q103
    * threshold — the deepest peel). Chained-peel fixpoint depths
    * measured at sf0.1: 1 / 2 / 10 rounds — each unroll below covers
    * them with margin (extra rounds are no-ops on both engines). */
  private val CoreSliceKs = Seq(2, 12, 25)
  private val CoreSliceUnrolls = Map(2 -> 4, 12 -> 5, 25 -> 13)

  /** Unroll depth of the q99 oracle. Rounds past the fixpoint are
    * no-ops on both engines, so this only needs to COVER the fixture
    * peel depth at every tested SF (measured: sf0.01 fixpoint at round
    * 0 — its co-ship graph is complete — and sf0.1 at round 7). */
  private val KTrussUnroll = 10

  // DuckDB twin of Graph.kTruss(k=4): the peel unrolled. Each round
  // recomputes triangle support on the surviving canonical edge set
  // (each triangle x<y<z appears exactly once as (x,y)(y,z)(x,z)) and
  // keeps edges with support >= k-2 = 2. Every per-round CTE is
  // MATERIALIZED: DuckDB inlines plain CTEs, and with each round
  // referencing its predecessor ~9× the inlined unroll re-scans the
  // base tables 9^rounds times (observed as fd exhaustion at depth 6);
  // materialization makes each round evaluate exactly once.
  private lazy val kTrussOracleSql: String = {
    def round(i: Int) =
      s"""tri$i AS MATERIALIZED (SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |        FROM e$i e1 JOIN e$i e2 ON e2.u = e1.v
         |                    JOIN e$i e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sup$i AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
         |          SELECT x AS u, y AS v FROM tri$i
         |          UNION ALL SELECT y, z FROM tri$i
         |          UNION ALL SELECT x, z FROM tri$i) t$i GROUP BY u, v),
         |e${i + 1} AS MATERIALIZED (SELECT ee.u, ee.v FROM e$i ee
         |        JOIN sup$i s ON ee.u = s.u AND ee.v = s.v AND s.c >= 2)"""
        .stripMargin
    s"""WITH $coShipSql,
       |e0 AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
       |      WHERE orders_together >= $TrussMinWeight),
       |${(0 until KTrussUnroll).map(round).mkString(",\n")}
       |SELECT u AS a, v AS b FROM e$KTrussUnroll""".stripMargin
  }

  // DuckDB twin of the q98 citation-edge construction, shared by the
  // q98 and q102 oracles (fy = first co-ship year per vertex; de =
  // directed edges, younger endpoint cites older).
  // MATERIALIZED throughout: de/fy sit above iterative unrolls that
  // reference them once per round — inlined, DuckDB would re-expand
  // the 485k-row co-ship self-join per reference (observed at sf0.1
  // as a temp-spill disk-full failure on q98 before materialization).
  private val citeFySql =
    """fy AS MATERIALIZED (SELECT v, min(first_year) AS fy FROM (
      |         SELECT s1 AS v, first_year FROM e
      |         UNION ALL SELECT s2 AS v, first_year FROM e) sv
      |       GROUP BY v)""".stripMargin

  private val citationEdgeSql =
    s"""$citeFySql,
      |de AS MATERIALIZED (SELECT
      |         CASE WHEN fa.fy > fb.fy OR (fa.fy = fb.fy AND ed.a > ed.b)
      |              THEN ed.a ELSE ed.b END AS s,
      |         CASE WHEN fa.fy > fb.fy OR (fa.fy = fb.fy AND ed.a > ed.b)
      |              THEN ed.b ELSE ed.a END AS d,
      |         ew.orders_together AS w
      |       FROM ed JOIN fy fa ON ed.a = fa.v JOIN fy fb ON ed.b = fb.v
      |               JOIN e ew ON ed.a = ew.s1 AND ed.b = ew.s2)"""
      .stripMargin

  // DuckDB twin of q187: the directed k-NN pick edges (rk from knnSql,
  // kept one-way) and the GENERAL recursive mutual-reachability
  // closure — SCC(v) = min u with v →* u and u →* v (self included
  // via the reach base case).
  // Shared recursive CTE body of the q187/q199 oracles: directed k-NN
  // pick edges (`dm`) -> general mutual-reachability closure -> per-
  // vertex SCC assignment (`comp`).
  private lazy val citationSccCtes: String =
    s"""$coShipSql,
       |$knnSql,
       |dm AS MATERIALIZED (SELECT s, nbr AS d FROM rk WHERE rn <= $KnnK),
       |verts AS MATERIALIZED (SELECT DISTINCT s AS v FROM dm
       |  UNION SELECT DISTINCT d FROM dm),
       |reach(v, u) AS (SELECT v, v FROM verts
       |  UNION
       |  SELECT r.v, dm.d FROM reach r JOIN dm ON r.u = dm.s),
       |mut AS (SELECT r1.v, r1.u FROM reach r1
       |  JOIN reach r2 ON r1.v = r2.u AND r1.u = r2.v),
       |comp AS MATERIALIZED (SELECT CAST(v AS BIGINT) AS supp,
       |    CAST(min(u) AS BIGINT) AS scc_id FROM mut GROUP BY v)""".stripMargin

  private lazy val citationSccOracleSql: String =
    s"""WITH RECURSIVE $citationSccCtes,
       |sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM comp GROUP BY 1)
       |SELECT c.supp, c.scc_id, z.n_members
       |FROM comp c JOIN sizes z ON c.scc_id = z.scc_id""".stripMargin

  // q200: generations via a SECOND recursive CTE over the condensation
  // edges -- state is (vertex, len) pairs, deduped by the recursive
  // UNION, so it is bounded by V x depth (never path-count); the max
  // aggregation sits OUTSIDE the recursion. Isolated SCCs surface at
  // generation 0 through the LEFT join.
  private lazy val citationGenerationsOracleSql: String =
    s"""WITH RECURSIVE $citationSccCtes,
       |ce AS MATERIALIZED (SELECT DISTINCT ca.scc_id AS s, cb.scc_id AS d
       |  FROM dm JOIN comp ca ON dm.s = ca.supp
       |          JOIN comp cb ON dm.d = cb.supp
       |  WHERE ca.scc_id <> cb.scc_id),
       |cv AS (SELECT DISTINCT s AS v FROM ce
       |  UNION SELECT DISTINCT d FROM ce),
       |lp(v, len) AS (SELECT v, 0 FROM cv
       |  UNION
       |  SELECT ce.d, lp.len + 1 FROM lp JOIN ce ON lp.v = ce.s),
       |lvl AS (SELECT v, CAST(max(len) AS BIGINT) AS generation
       |        FROM lp GROUP BY v),
       |sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM comp GROUP BY 1)
       |SELECT z.scc_id, CAST(coalesce(l.generation, 0) AS BIGINT)
       |    AS generation, z.n_members
       |FROM sizes z LEFT JOIN lvl l ON z.scc_id = l.v""".stripMargin

  // q199: the condensation DAG -- one row per ordered pair of DISTINCT
  // SCCs connected by >= 1 original edge, with the cross-edge count.
  private lazy val citationCondensationOracleSql: String =
    s"""WITH RECURSIVE $citationSccCtes
       |SELECT ca.scc_id AS scc_a, cb.scc_id AS scc_b,
       |  CAST(count(*) AS BIGINT) AS n_cross_edges
       |FROM dm JOIN comp ca ON dm.s = ca.supp
       |        JOIN comp cb ON dm.d = cb.supp
       |WHERE ca.scc_id <> cb.scc_id
       |GROUP BY 1, 2""".stripMargin

  // DuckDB twin of Graph.kCore(k=25) on the weight>=6 substrate: the
  // degree peel unrolled (MATERIALIZED for the same inlining reason as
  // the q99 oracle).
  private lazy val kCoreOracleSql: String = {
    def round(i: Int) =
      s"""d$i AS (SELECT n, count(*) AS dg FROM (
         |          SELECT u AS n FROM e$i UNION ALL SELECT v FROM e$i) x$i
         |        GROUP BY n),
         |k$i AS (SELECT n FROM d$i WHERE dg >= $KCoreK),
         |e${i + 1} AS MATERIALIZED (SELECT ee.u, ee.v FROM e$i ee
         |        JOIN k$i ka ON ee.u = ka.n
         |        JOIN k$i kb ON ee.v = kb.n)""".stripMargin
    s"""WITH $coShipSql,
       |e0 AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
       |      WHERE orders_together >= $TrussMinWeight),
       |${(0 until KCoreUnroll).map(round).mkString(",\n")}
       |SELECT u AS a, v AS b FROM e$KCoreUnroll""".stripMargin
  }

  // Shared WITH body for q147/q165: coShip + k-NN spine (`ed`) +
  // symmetric adjacency + the 4 synchronous LPA rounds unrolled —
  // per round, neighbor-label counts then the (count DESC, label ASC)
  // top-1, exactly the Spark window. `lb4` holds the final labels.
  private lazy val communitiesCtes: String = {
    def round(k: Int) =
      s"""lb$k AS MATERIALIZED (SELECT s AS v, lab FROM (
         |  SELECT adj.s, l.lab, count(*) AS c,
         |    row_number() OVER (PARTITION BY adj.s
         |      ORDER BY count(*) DESC, l.lab) AS rn
         |  FROM adj JOIN lb${k - 1} l ON adj.d = l.v
         |  GROUP BY adj.s, l.lab) x$k WHERE rn = 1)""".stripMargin
    s"""$coShipSql,
       |$knnSql,
       |adj AS MATERIALIZED (SELECT a AS s, b AS d FROM ed
       |       UNION ALL SELECT b AS s, a AS d FROM ed),
       |lb0 AS MATERIALIZED (SELECT DISTINCT s AS v, s AS lab FROM adj),
       |${(1 to 4).map(round).mkString(",\n")}""".stripMargin
  }

  // DuckDB twin of q147: the shared LPA unroll, labels emitted.
  private lazy val communitiesOracleSql: String =
    s"""WITH $communitiesCtes
       |SELECT v, lab AS community FROM lb4""".stripMargin

  // One guarded refinement round of the q188 oracle (input labels
  // rl{r-1}, output rl{r}): per-community degree mass, per-(vertex,
  // community) edge counts, the exact-integer ΔQ best move per vertex
  // (ΔQ desc, target label asc; kept if ΔQ > 0), then the guarded
  // apply — the full proposal set if the recomputed Q_int improves,
  // else the single best proposal (ΔQ desc, v asc). Mirrors
  // Graph.refineCommunities term for term.
  private def refineRoundSql(r: Int): String = {
    val p = s"rl${r - 1}"
    s"""dc$r AS MATERIALIZED (SELECT l.lab, CAST(sum(dg.deg) AS BIGINT) AS dsum
       |  FROM $p l JOIN deg dg ON l.v = dg.v GROUP BY 1),
       |kv$r AS MATERIALIZED (SELECT adj.s AS v, l.lab,
       |    CAST(count(*) AS BIGINT) AS k
       |  FROM adj JOIN $p l ON adj.d = l.v GROUP BY 1, 2),
       |own$r AS (SELECT l.v, l.lab AS cur, dg.deg, dcc.dsum AS dcur,
       |    coalesce(kk.k, 0) AS kown
       |  FROM $p l JOIN deg dg ON l.v = dg.v
       |  JOIN dc$r dcc ON l.lab = dcc.lab
       |  LEFT JOIN kv$r kk ON l.v = kk.v AND l.lab = kk.lab),
       |prop$r AS MATERIALIZED (SELECT v, tgt, dq FROM (
       |  SELECT v, lab AS tgt, dq,
       |    row_number() OVER (PARTITION BY v ORDER BY dq DESC, lab) AS rn
       |  FROM (SELECT o.v, kv.lab,
       |      4 * mm.m * (kv.k - o.kown)
       |        - 2 * o.deg * (dcc.dsum - (o.dcur - o.deg)) AS dq
       |    FROM own$r o JOIN kv$r kv ON o.v = kv.v AND kv.lab <> o.cur
       |    JOIN dc$r dcc ON kv.lab = dcc.lab
       |    CROSS JOIN mm) y$r) x$r
       |  WHERE rn = 1 AND dq > 0),
       |pall$r AS MATERIALIZED (SELECT l.v, coalesce(pp.tgt, l.lab) AS lab
       |  FROM $p l LEFT JOIN prop$r pp ON l.v = pp.v),
       |qold$r AS (SELECT 4 * mm.m * ei.ein - sq.sd AS q FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS ein FROM ed
       |     JOIN $p la ON ed.a = la.v JOIN $p lc ON ed.b = lc.v
       |     WHERE la.lab = lc.lab) ei,
       |  (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sd FROM dc$r) sq, mm),
       |dcp$r AS (SELECT l.lab, CAST(sum(dg.deg) AS BIGINT) AS dsum
       |  FROM pall$r l JOIN deg dg ON l.v = dg.v GROUP BY 1),
       |qnew$r AS (SELECT 4 * mm.m * ei.ein - sq.sd AS q FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS ein FROM ed
       |     JOIN pall$r la ON ed.a = la.v JOIN pall$r lc ON ed.b = lc.v
       |     WHERE la.lab = lc.lab) ei,
       |  (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sd FROM dcp$r) sq, mm),
       |sing$r AS (SELECT v, tgt FROM (
       |  SELECT v, tgt, row_number() OVER (ORDER BY dq DESC, v) AS rn
       |  FROM prop$r) z$r WHERE rn = 1),
       |rl$r AS MATERIALIZED (SELECT l.v,
       |    CASE WHEN qn.q > qo.q THEN pa.lab
       |         WHEN sg.v IS NOT NULL THEN sg.tgt
       |         ELSE l.lab END AS lab
       |  FROM $p l JOIN pall$r pa ON l.v = pa.v
       |  LEFT JOIN sing$r sg ON l.v = sg.v
       |  CROSS JOIN qold$r qo CROSS JOIN qnew$r qn)""".stripMargin
  }

  // DuckDB twin of q188: the shared LPA unroll seeds rl0, then two
  // guarded refinement rounds.
  private lazy val refinedCommunitiesOracleSql: String =
    s"""WITH $communitiesCtes,
       |deg AS MATERIALIZED (SELECT s AS v, CAST(count(*) AS BIGINT) AS deg
       |  FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
       |rl0 AS MATERIALIZED (SELECT v, lab FROM lb4),
       |${refineRoundSql(1)},
       |${refineRoundSql(2)}
       |SELECT v, lab AS community FROM rl2""".stripMargin

  // One weighted guarded move round of the q251 coarse level (input
  // labels lvrl{r-1} over the contracted community graph, output
  // lvrl{r}): refineRoundSql with sum(weight) arithmetic and the
  // labeling-invariant self-loop mass folded into both score sides.
  private def louvainRoundSql(r: Int): String = {
    val p = s"lvrl${r - 1}"
    s"""lvdc$r AS MATERIALIZED (SELECT l.lab, CAST(sum(dg.deg) AS BIGINT) AS dsum
       |  FROM $p l JOIN lvdeg dg ON l.v = dg.v GROUP BY 1),
       |lvkv$r AS MATERIALIZED (SELECT aj.s AS v, l.lab,
       |    CAST(sum(aj.w) AS BIGINT) AS k
       |  FROM lvadj aj JOIN $p l ON aj.d = l.v GROUP BY 1, 2),
       |lvown$r AS (SELECT l.v, l.lab AS cur, dg.deg, dcc.dsum AS dcur,
       |    coalesce(kk.k, 0) AS kown
       |  FROM $p l JOIN lvdeg dg ON l.v = dg.v
       |  JOIN lvdc$r dcc ON l.lab = dcc.lab
       |  LEFT JOIN lvkv$r kk ON l.v = kk.v AND l.lab = kk.lab),
       |lvprop$r AS MATERIALIZED (SELECT v, tgt, dq FROM (
       |  SELECT v, lab AS tgt, dq,
       |    row_number() OVER (PARTITION BY v ORDER BY dq DESC, lab) AS rn
       |  FROM (SELECT o.v, kv.lab,
       |      4 * lvmm.m * (kv.k - o.kown)
       |        - 2 * o.deg * (dcc.dsum - (o.dcur - o.deg)) AS dq
       |    FROM lvown$r o JOIN lvkv$r kv ON o.v = kv.v AND kv.lab <> o.cur
       |    JOIN lvdc$r dcc ON kv.lab = dcc.lab
       |    CROSS JOIN lvmm) y$r) x$r
       |  WHERE rn = 1 AND dq > 0),
       |lvpall$r AS MATERIALIZED (SELECT l.v, coalesce(pp.tgt, l.lab) AS lab
       |  FROM $p l LEFT JOIN lvprop$r pp ON l.v = pp.v),
       |lvqold$r AS (SELECT 4 * lvmm.m * (ei.ein + lvsw.sw) - sq.sd AS q FROM
       |  (SELECT CAST(coalesce(sum(cr.w), 0) AS BIGINT) AS ein FROM lvcross cr
       |     JOIN $p la ON cr.cu = la.v JOIN $p lc ON cr.cv = lc.v
       |     WHERE la.lab = lc.lab) ei,
       |  (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sd FROM lvdc$r) sq,
       |  lvmm, lvsw),
       |lvdcp$r AS (SELECT l.lab, CAST(sum(dg.deg) AS BIGINT) AS dsum
       |  FROM lvpall$r l JOIN lvdeg dg ON l.v = dg.v GROUP BY 1),
       |lvqnew$r AS (SELECT 4 * lvmm.m * (ei.ein + lvsw.sw) - sq.sd AS q FROM
       |  (SELECT CAST(coalesce(sum(cr.w), 0) AS BIGINT) AS ein FROM lvcross cr
       |     JOIN lvpall$r la ON cr.cu = la.v JOIN lvpall$r lc ON cr.cv = lc.v
       |     WHERE la.lab = lc.lab) ei,
       |  (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sd FROM lvdcp$r) sq,
       |  lvmm, lvsw),
       |lvsing$r AS (SELECT v, tgt FROM (
       |  SELECT v, tgt, row_number() OVER (ORDER BY dq DESC, v) AS rn
       |  FROM lvprop$r) z$r WHERE rn = 1),
       |lvrl$r AS MATERIALIZED (SELECT l.v,
       |    CASE WHEN qn.q > qo.q THEN pa.lab
       |         WHEN sg.v IS NOT NULL THEN sg.tgt
       |         ELSE l.lab END AS lab
       |  FROM $p l JOIN lvpall$r pa ON l.v = pa.v
       |  LEFT JOIN lvsing$r sg ON l.v = sg.v
       |  CROSS JOIN lvqold$r qo CROSS JOIN lvqnew$r qn)""".stripMargin
  }

  // DuckDB twin of q251: the q188 chain (rl2 = level-1 labels), the
  // contraction to the weighted community multigraph, two weighted
  // move rounds, and the projection back to vertices.
  private lazy val louvainMultilevelOracleSql: String =
    s"""WITH $communitiesCtes,
       |deg AS MATERIALIZED (SELECT s AS v, CAST(count(*) AS BIGINT) AS deg
       |  FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
       |rl0 AS MATERIALIZED (SELECT v, lab FROM lb4),
       |${refineRoundSql(1)},
       |${refineRoundSql(2)},
       |lvl1 AS MATERIALIZED (SELECT v, lab FROM rl2),
       |lvce AS MATERIALIZED (SELECT least(la.lab, lc.lab) AS cu,
       |    greatest(la.lab, lc.lab) AS cv, CAST(count(*) AS BIGINT) AS w
       |  FROM ed JOIN lvl1 la ON ed.a = la.v JOIN lvl1 lc ON ed.b = lc.v
       |  GROUP BY 1, 2),
       |lvcross AS MATERIALIZED (SELECT cu, cv, w FROM lvce WHERE cu <> cv),
       |lvsw AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS sw
       |  FROM lvce WHERE cu = cv),
       |lvadj AS MATERIALIZED (SELECT cu AS s, cv AS d, w FROM lvcross
       |  UNION ALL SELECT cv, cu, w FROM lvcross),
       |lvdeg AS MATERIALIZED (SELECT c AS v, CAST(sum(w) AS BIGINT) AS deg
       |  FROM (SELECT s AS c, w FROM lvadj
       |        UNION ALL SELECT cu, 2 * w FROM lvce WHERE cu = cv) dd
       |  GROUP BY 1),
       |lvmm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM lvce),
       |lvrl0 AS MATERIALIZED (SELECT c AS v, c AS lab FROM (
       |  SELECT DISTINCT cu AS c FROM lvce
       |  UNION SELECT DISTINCT cv FROM lvce) cs),
       |${louvainRoundSql(1)},
       |${louvainRoundSql(2)}
       |SELECT l1.v, l1.lab AS c1, w2.lab AS community
       |FROM lvl1 l1 JOIN lvrl2 w2 ON l1.lab = w2.v""".stripMargin

  // DuckDB twin of q165: the same labels, then internal-edge counts,
  // degree mass, and the 4m·e_in − deg² scaled contribution.
  private lazy val modularityOracleSql: String =
    s"""WITH $communitiesCtes,
       |lab AS (SELECT v, lab AS community FROM lb4),
       |deg AS (SELECT s AS v, count(*) AS deg FROM adj GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
       |ein AS (SELECT la.community, count(*) AS e_in
       |        FROM ed JOIN lab la ON ed.a = la.v
       |        JOIN lab lc ON ed.b = lc.v
       |        WHERE la.community = lc.community GROUP BY 1),
       |dc AS (SELECT l.community, count(*) AS n_vertices,
       |         CAST(sum(deg) AS BIGINT) AS deg_sum
       |       FROM lab l JOIN deg ON l.v = deg.v GROUP BY 1)
       |SELECT dc.community, CAST(n_vertices AS BIGINT) AS n_vertices,
       |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, deg_sum, mm.m,
       |  4 * mm.m * CAST(coalesce(e_in, 0) AS BIGINT)
       |    - deg_sum * deg_sum AS contrib
       |FROM dc LEFT JOIN ein ON dc.community = ein.community, mm""".stripMargin

  // DuckDB twin of q179: the 4 spreading rounds unrolled with the
  // seed set clamped back in each round (UNION + NOT IN — exactly the
  // Spark union + left-anti)
  private lazy val labelSpreadOracleSql: String = {
    def round(k: Int) =
      s"""v$k AS MATERIALIZED (SELECT s AS v, label FROM (
         |  SELECT adj.s, l.label, count(*) AS c,
         |    row_number() OVER (PARTITION BY adj.s
         |      ORDER BY count(*) DESC, l.label) AS rn
         |  FROM adj JOIN l${k - 1} l ON adj.d = l.v
         |  GROUP BY adj.s, l.label) x$k WHERE rn = 1),
         |l$k AS MATERIALIZED (SELECT * FROM sd
         |  UNION ALL SELECT v, label FROM v$k
         |  WHERE v NOT IN (SELECT v FROM sd))""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |adj AS MATERIALIZED (SELECT a AS s, b AS d FROM ed
       |       UNION ALL SELECT b AS s, a AS d FROM ed),
       |sd AS (SELECT v, v AS label FROM (
       |  SELECT DISTINCT s AS v FROM adj ORDER BY v LIMIT 3)),
       |l0 AS (SELECT * FROM sd),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT v, label FROM l4""".stripMargin
  }

  // DuckDB twin of the q145 slice gate: the q103 peel SQL chained over
  // the slice thresholds (the k-core of a j≤k-core is the k-core), so
  // three thresholds cost one shrinking peel sequence instead of three
  // from-scratch unrolls. Same MATERIALIZED discipline as kCoreOracleSql.
  private lazy val coreNumbersOracleSql: String = {
    def round(k: Int, i: Int) =
      s"""dk${k}_$i AS (SELECT n, count(*) AS dg FROM (
         |          SELECT u AS n FROM ek${k}_$i
         |          UNION ALL SELECT v FROM ek${k}_$i) x${k}_$i
         |        GROUP BY n),
         |kk${k}_$i AS (SELECT n FROM dk${k}_$i WHERE dg >= $k),
         |ek${k}_${i + 1} AS MATERIALIZED (SELECT ee.u, ee.v FROM ek${k}_$i ee
         |        JOIN kk${k}_$i ka ON ee.u = ka.n
         |        JOIN kk${k}_$i kb ON ee.v = kb.n)""".stripMargin
    val chain = CoreSliceKs.zip(-1 +: CoreSliceKs.dropRight(1)).map {
      case (k, prev) =>
        val src = if (prev < 0) "e0"
                  else s"ek${prev}_${CoreSliceUnrolls(prev)}"
        (s"ek${k}_0 AS MATERIALIZED (SELECT u, v FROM $src)" +:
          (0 until CoreSliceUnrolls(k)).map(i => round(k, i))).mkString(",\n")
    }.mkString(",\n")
    val slices = CoreSliceKs.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, n AS v FROM (
         |  SELECT DISTINCT n FROM (
         |    SELECT u AS n FROM ek${k}_${CoreSliceUnrolls(k)}
         |    UNION ALL SELECT v FROM ek${k}_${CoreSliceUnrolls(k)}) sx$k)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $coShipSql,
       |e0 AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e
       |      WHERE orders_together >= $TrussMinWeight),
       |$chain
       |$slices""".stripMargin
  }

  // DuckDB twin of the WEIGHTED directed PageRank (q105): identical to
  // directedPageRankOracleSql except out-degree becomes total
  // out-weight and the per-edge share is (r · w) div W(s).
  private lazy val weightedPageRankOracleSql: String = {
    val S = "1000000000000"
    def round(k: Int) =
      s"""d$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS dm
         |       FROM r${k - 1} r
         |       WHERE NOT EXISTS (SELECT 1 FROM ow WHERE ow.s = r.v)),
         |c$k AS MATERIALIZED (SELECT de.d AS v,
         |         sum((r.r * de.w) // ow.tw) AS m
         |       FROM de JOIN r${k - 1} r ON de.s = r.v
         |               JOIN ow ON de.s = ow.s
         |       GROUP BY de.d),
         |r$k AS MATERIALIZED (SELECT verts.v,
         |         (15 * ($S // nn.c)) // 100
         |           + (85 * (coalesce(c$k.m, 0) + d$k.dm // nn.c)) // 100
         |           AS r
         |       FROM verts CROSS JOIN nn CROSS JOIN d$k
         |            LEFT JOIN c$k ON verts.v = c$k.v)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |$citationEdgeSql,
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |            SELECT s AS v FROM de UNION ALL SELECT d FROM de) sv2),
       |nn AS (SELECT count(*) AS c FROM verts),
       |ow AS MATERIALIZED (SELECT s, CAST(sum(w) AS BIGINT) AS tw
       |      FROM de GROUP BY s),
       |r0 AS MATERIALIZED (SELECT v, $S // c AS r FROM verts, nn),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT v, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
  }

  // DuckDB twin of Graph.hitsInt over [[citationEdges]]: two unrolled
  // rounds, each half-round's L1 total as a scalar CTE — every step
  // the same int64 floor arithmetic as the Scala loop.
  private lazy val hitsOracleSql: String = {
    val S = "1000000"
    // MATERIALIZED like the q98 rounds: each raw/total/rescaled CTE is
    // referenced twice downstream, so inlining doubles per half-round
    def round(k: Int) =
      s"""ar$k AS MATERIALIZED (SELECT de.d AS v, sum(h${k - 1}.h) AS ar
         |       FROM de JOIN h${k - 1} ON de.s = h${k - 1}.v GROUP BY de.d),
         |at$k AS (SELECT coalesce(sum(ar), 1) AS t FROM ar$k),
         |a$k AS MATERIALIZED (SELECT verts.v,
         |         (coalesce(ar$k.ar, 0) * $S) // at$k.t AS a
         |       FROM verts CROSS JOIN at$k
         |            LEFT JOIN ar$k ON verts.v = ar$k.v),
         |hr$k AS MATERIALIZED (SELECT de.s AS v, sum(a$k.a) AS hr
         |       FROM de JOIN a$k ON de.d = a$k.v GROUP BY de.s),
         |ht$k AS (SELECT coalesce(sum(hr), 1) AS t FROM hr$k),
         |h$k AS MATERIALIZED (SELECT verts.v,
         |         (coalesce(hr$k.hr, 0) * $S) // ht$k.t AS h
         |       FROM verts CROSS JOIN ht$k
         |            LEFT JOIN hr$k ON verts.v = hr$k.v)""".stripMargin
    s"""WITH $coShipSql,
       |$knnSql,
       |$citationEdgeSql,
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |            SELECT s AS v FROM de UNION ALL SELECT d FROM de) sv2),
       |h0 AS MATERIALIZED (SELECT v, CAST($S AS BIGINT) AS h FROM verts),
       |${round(1)},
       |${round(2)}
       |SELECT a2.v, CAST(a2.a AS BIGINT) AS authority,
       |  CAST(h2.h AS BIGINT) AS hub
       |FROM a2 JOIN h2 ON a2.v = h2.v""".stripMargin
  }

  // DuckDB twin of q191: the same per-year distinct pairs, the 3
  // lowest vertices as sources, and the GENERAL time-respecting
  // closure — (v, t) states are finite, the recursive UNION dedups
  // them, and the outer MIN is the earliest arrival.
  private lazy val temporalReachOracleSql: String =
    s"""WITH RECURSIVE $coShipSql,
       |ty AS MATERIALIZED (SELECT DISTINCT s1, s2, CAST(yr AS BIGINT) AS yr
       |  FROM j),
       |adj AS MATERIALIZED (SELECT s1 AS u, s2 AS v, yr AS t FROM ty
       |  UNION SELECT s2, s1, yr FROM ty),
       |verts AS (SELECT DISTINCT u AS v FROM adj),
       |src AS (SELECT v FROM verts ORDER BY v LIMIT 3),
       |reach(v, t) AS (SELECT v, CAST(-1 AS BIGINT) FROM src
       |  UNION
       |  SELECT adj.v, adj.t FROM reach r
       |  JOIN adj ON r.v = adj.u AND adj.t >= r.t)
       |SELECT v, CAST(min(t) AS BIGINT) AS arrival FROM reach GROUP BY v"""
      .stripMargin

  private lazy val componentsOracleSql =
    s"""WITH RECURSIVE $coShipSql,
       |ed AS (SELECT s1 AS a, s2 AS b FROM e
       |       WHERE orders_together >= $MinWeight),
       |adj AS (SELECT a AS s, b AS d FROM ed
       |        UNION SELECT b AS s, a AS d FROM ed),
       |verts AS (SELECT DISTINCT s AS v FROM adj),
       |reach(v, u) AS (SELECT v, v FROM verts
       |  UNION
       |  SELECT r.v, adj.d FROM reach r JOIN adj ON r.u = adj.s)
       |SELECT v, CAST(min(u) AS BIGINT) AS comp FROM reach GROUP BY v""".stripMargin

  /** The q206 KMV-register replay chain (exact balls by bounded
    * recursive BFS → per-(vertex, hop) k-min hash ranking), ending in
    * the `anfr` relation — shared verbatim by q206 (the registers
    * themselves) and q227 (the neighborhood function aggregated from
    * them), so the two replays can never drift. */
  private lazy val anfOracleChainSql =
    s"""WITH RECURSIVE $coShipSql,
       |$knnSql,
       |sy2 AS (SELECT a AS s, b AS d FROM ed
       |        UNION SELECT b AS s, a AS d FROM ed),
       |verts AS (SELECT DISTINCT s AS v FROM sy2),
       |r(v, u, h) AS (SELECT v, v, 0 FROM verts
       |  UNION
       |  SELECT r.v, e.d, r.h + 1 FROM r JOIN sy2 e ON e.s = r.u
       |  WHERE r.h < 3),
       |bl AS (SELECT v, u, min(h) AS hm FROM r GROUP BY 1, 2),
       |hh AS (SELECT v, u, hm,
       |    (u * 1103515245 + 12345) % 2147483647 AS hu FROM bl),
       |hs AS (SELECT DISTINCT hp.hop, b.v, b.hu
       |  FROM hh b JOIN (VALUES (1), (2), (3)) hp(hop)
       |    ON b.hm <= hp.hop),
       |rk2 AS (SELECT hop, v, hu,
       |    row_number() OVER (PARTITION BY hop, v ORDER BY hu) AS rn,
       |    count(*) OVER (PARTITION BY hop, v) AS nd
       |  FROM hs),
       |anfr AS (SELECT v, CAST(hop AS BIGINT) AS hop,
       |  CAST(least(nd, 8) AS BIGINT) AS n_reg,
       |  CAST(max(CASE WHEN rn = least(nd, 8) THEN hu END) AS BIGINT)
       |    AS kth_min,
       |  CAST(CASE WHEN nd < 8 THEN nd
       |    ELSE (CAST(7 AS BIGINT) * 2147483647)
       |      // greatest(max(CASE WHEN rn = least(nd, 8) THEN hu END), 1)
       |    END AS BIGINT) AS est_reach
       |FROM rk2 WHERE rn <= 8
       |GROUP BY v, hop, nd)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q15_cosupply_edges" ->
      """WITH a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT a1.l_suppkey AS s1, a2.l_suppkey AS s2,
        |  CAST(count(*) AS BIGINT) AS orders_together
        |FROM a a1 JOIN a a2 ON a1.l_orderkey = a2.l_orderkey
        |                   AND a1.l_suppkey < a2.l_suppkey
        |GROUP BY s1, s2""".stripMargin,

    "q16_first_coship" ->
      s"""WITH $coShipSql
         |SELECT s1, s2, orders_together, first_year FROM e""".stripMargin,

    // identical semantics to q15 — the bucketed layout must be a pure
    // physical change
    "q71_bucketed_spine" ->
      """WITH a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT a1.l_suppkey AS s1, a2.l_suppkey AS s2,
        |  CAST(count(*) AS BIGINT) AS orders_together
        |FROM a a1 JOIN a a2 ON a1.l_orderkey = a2.l_orderkey
        |                   AND a1.l_suppkey < a2.l_suppkey
        |GROUP BY s1, s2""".stripMargin,

    "q17_supplier_triangles" ->
      s"""WITH $coShipSql,
         |ed AS (SELECT s1 AS a, s2 AS b, first_year AS y FROM e
         |       WHERE orders_together >= $MinWeight),
         |adj AS (SELECT a AS ego, b AS alt, y FROM ed
         |        UNION ALL SELECT b AS ego, a AS alt, y FROM ed),
         |ap AS (SELECT c1.ego, c1.alt AS a1, c2.alt AS a2,
         |              greatest(c1.y, c2.y) AS py
         |       FROM adj c1 JOIN adj c2 ON c1.ego = c2.ego AND c1.alt < c2.alt)
         |SELECT ap.ego, ap.a1, ap.a2,
         |  CAST(greatest(ap.py, ed2.y) AS BIGINT) AS year
         |FROM ap JOIN ed ed2 ON ap.a1 = ed2.a AND ap.a2 = ed2.b""".stripMargin,

    "q19_root_closure" ->
      """WITH sn AS (SELECT s_suppkey + 10000 AS node, n_regionkey AS root
        |            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |nn AS (SELECT n_nationkey + 1000 AS node, n_regionkey AS root
        |       FROM nation),
        |rr AS (SELECT DISTINCT n_regionkey AS node, n_regionkey AS root
        |       FROM nation)
        |SELECT CAST(node AS BIGINT) AS node, CAST(root AS BIGINT) AS root
        |FROM (SELECT * FROM sn UNION ALL SELECT * FROM nn
        |      UNION ALL SELECT * FROM rr)""".stripMargin,

    "q18_supplier_hindex" ->
      """WITH v AS (SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey,
        |  CAST(count(*) FILTER (WHERE v >= rn) AS BIGINT) AS h_index
        |FROM v GROUP BY l_suppkey""".stripMargin,

    // ONE oracle string for BOTH component queries: q34 (label
    // propagation) and q78 (star contraction) are graded against the
    // same recursive CTE by construction — the two algorithms cannot
    // silently drift onto different gates.
    "q34_cosupply_components" -> componentsOracleSql,
    "q78_components_star" -> componentsOracleSql,
    "q87_pagerank" -> pageRankOracleSql,

    // q206: exact balls by bounded recursive BFS, then the k-min hash
    // ranking per (vertex, hop) — the KMV register replayed whole
    "q206_anf_reach" ->
      s"""$anfOracleChainSql
         |SELECT * FROM anfr""".stripMargin,

    // q227: the q206 replay aggregated into the neighborhood function
    // N(h) = Σ_v est_reach(v, h), with the integer 90%-mass flag.
    "q227_anf_diameter" ->
      s"""$anfOracleChainSql,
         |nf AS (SELECT hop, CAST(sum(est_reach) AS BIGINT) AS nf,
         |    CAST(count(*) AS BIGINT) AS n_vertices
         |  FROM anfr GROUP BY 1),
         |mx AS (SELECT nf AS nf_max FROM nf WHERE hop = 3)
         |SELECT hop, nf.nf, n_vertices,
         |  (nf.nf * 10000) // mx.nf_max AS frac_x10k,
         |  CAST(CASE WHEN nf.nf * 10 >= mx.nf_max * 9 THEN 1 ELSE 0 END
         |    AS BIGINT) AS at_eff_diameter
         |FROM nf CROSS JOIN mx""".stripMargin,

    "q98_citation_pagerank" -> directedPageRankOracleSql,
    "q187_citation_scc" -> citationSccOracleSql,
    "q199_citation_condensation" -> citationCondensationOracleSql,
    "q200_citation_generations" -> citationGenerationsOracleSql,
    "q191_temporal_reach" -> temporalReachOracleSql,

    "q99_ktruss" -> kTrussOracleSql,

    "q102_citations_by_year" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |$citationEdgeSql,
         |ty AS (SELECT s1, s2, yr, CAST(count(*) AS BIGINT) AS n
         |       FROM j GROUP BY 1, 2, 3)
         |SELECT de.d AS cited, ty.yr,
         |  CAST(sum(ty.n) AS BIGINT) AS cites_received
         |FROM de JOIN ty ON least(de.s, de.d) = ty.s1
         |               AND greatest(de.s, de.d) = ty.s2
         |GROUP BY 1, 2""".stripMargin,

    "q103_kcore" -> kCoreOracleSql,

    "q145_core_numbers" -> coreNumbersOracleSql,

    "q147_communities" -> communitiesOracleSql,
    "q165_modularity" -> modularityOracleSql,

    // q236: the q165 LPA chain with the cut/volume readout — a cut
    // edge charges both communities, denominator guarded exactly as
    // the Spark side.
    "q236_conductance" ->
      s"""WITH $communitiesCtes,
         |lab AS (SELECT v, lab AS community FROM lb4),
         |deg AS (SELECT s AS v, count(*) AS deg FROM adj GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |tg AS (SELECT la.community AS ca, lc.community AS cb
         |       FROM ed JOIN lab la ON ed.a = la.v
         |               JOIN lab lc ON ed.b = lc.v
         |       WHERE la.community <> lc.community),
         |ct AS (SELECT community, count(*) AS cut FROM
         |       (SELECT ca AS community FROM tg
         |        UNION ALL SELECT cb FROM tg)
         |       GROUP BY 1),
         |dc AS (SELECT l.community, CAST(count(*) AS BIGINT)
         |         AS n_vertices, CAST(sum(deg) AS BIGINT) AS vol
         |       FROM lab l JOIN deg ON l.v = deg.v GROUP BY 1)
         |SELECT dc.community, n_vertices,
         |  CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut, vol, mm.m,
         |  CAST(coalesce(ct.cut, 0) * 10000
         |    // greatest(1, least(vol, 2 * mm.m - vol)) AS BIGINT)
         |    AS phi_x10k
         |FROM dc LEFT JOIN ct ON dc.community = ct.community, mm""".stripMargin,

    // q237: the directed picks are rk's rn ≤ k rows; mutuality via
    // EXISTS on the reversed key.
    "q237_knn_reciprocity" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |pk AS (SELECT s AS src, nbr AS dst FROM rk WHERE rn <= $KnnK),
         |mu AS (SELECT count(*) AS n_mutual FROM pk p
         |       WHERE EXISTS (SELECT 1 FROM pk r
         |                     WHERE r.src = p.dst AND r.dst = p.src)),
         |ne AS (SELECT count(*) AS n_edges FROM pk)
         |SELECT CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(n_mutual AS BIGINT) AS n_mutual,
         |  CAST(n_mutual * 10000 // n_edges AS BIGINT) AS recip_x10k
         |FROM ne, mu""".stripMargin,
    "q188_communities_refined" -> refinedCommunitiesOracleSql,
    "q251_louvain_multilevel" -> louvainMultilevelOracleSql,
    "q179_label_spread" -> labelSpreadOracleSql,

    // q151: distinct (edge, year) activity, then active counts,
    // first-appearance counts, and the shifted-year NOT EXISTS loss —
    // coShipSql's j is the same lineitem×orders long form
    "q151_edge_churn" ->
      s"""WITH $coShipSql,
         |act AS MATERIALIZED (SELECT DISTINCT least(s1, s2) AS u,
         |        greatest(s1, s2) AS v, yr AS p
         |      FROM j WHERE yr IS NOT NULL),
         |ac AS (SELECT p, CAST(count(*) AS BIGINT) AS n_active FROM act
         |       GROUP BY 1),
         |fs AS (SELECT p, CAST(count(*) AS BIGINT) AS n_new FROM (
         |         SELECT u, v, min(p) AS p FROM act GROUP BY 1, 2) f
         |       GROUP BY 1),
         |lo AS (SELECT p, CAST(count(*) AS BIGINT) AS n_lost FROM (
         |         SELECT a1.u, a1.v, a1.p + 1 AS p FROM act a1
         |         WHERE NOT EXISTS (SELECT 1 FROM act a2
         |           WHERE a2.u = a1.u AND a2.v = a1.v
         |             AND a2.p = a1.p + 1)) l
         |       GROUP BY 1)
         |SELECT ac.p AS yr, ac.n_active,
         |  coalesce(fs.n_new, 0) AS n_new,
         |  coalesce(lo.n_lost, 0) AS n_lost
         |FROM ac LEFT JOIN fs USING (p) LEFT JOIN lo USING (p)""".stripMargin,

    "q104_citation_hits" -> hitsOracleSql,

    "q105_citation_pagerank_weighted" -> weightedPageRankOracleSql,

    "q143_personalized_pagerank" -> personalizedPageRankOracleSql,

    // multi-source BFS unrolled: 3 MATERIALIZED min-level rounds from
    // the 3 lowest spine vertices — hop BFS is weight-1 relaxation
    "q114_multi_source_bfs" -> {
      def round(k: Int) =
        s"""m$k AS MATERIALIZED (SELECT src, v, min(level) AS level FROM (
           |  SELECT src, v, level FROM m${k - 1}
           |  UNION ALL
           |  SELECT m${k - 1}.src, badj.d AS v, m${k - 1}.level + 1
           |  FROM m${k - 1} JOIN badj ON m${k - 1}.v = badj.s)
           |  GROUP BY src, v)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |badj AS (SELECT a AS s, b AS d FROM ed
         |         UNION SELECT b AS s, a AS d FROM ed),
         |srcs AS (SELECT v FROM (SELECT DISTINCT s AS v FROM badj)
         |         ORDER BY v LIMIT 3),
         |m0 AS MATERIALIZED (SELECT v AS src, v, CAST(0 AS BIGINT) AS level
         |                    FROM srcs),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT src, v, CAST(level AS BIGINT) AS level FROM m3""".stripMargin
    },

    // q142: the q114 replay aggregated per source
    "q142_landmark_closeness" -> {
      def round(k: Int) =
        s"""m$k AS MATERIALIZED (SELECT src, v, min(level) AS level FROM (
           |  SELECT src, v, level FROM m${k - 1}
           |  UNION ALL
           |  SELECT m${k - 1}.src, badj.d AS v, m${k - 1}.level + 1
           |  FROM m${k - 1} JOIN badj ON m${k - 1}.v = badj.s)
           |  GROUP BY src, v)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |badj AS (SELECT a AS s, b AS d FROM ed
         |         UNION SELECT b AS s, a AS d FROM ed),
         |srcs AS (SELECT v FROM (SELECT DISTINCT s AS v FROM badj)
         |         ORDER BY v LIMIT 3),
         |m0 AS MATERIALIZED (SELECT v AS src, v, CAST(0 AS BIGINT) AS level
         |                    FROM srcs),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT src, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(level) AS BIGINT) AS total_dist
         |FROM m3 GROUP BY src""".stripMargin
    },

    // q161: the q114 replay aggregated per TARGET with the exact
    // 6-scaled reciprocal-distance sum.
    "q161_harmonic_centrality" -> {
      def round(k: Int) =
        s"""m$k AS MATERIALIZED (SELECT src, v, min(level) AS level FROM (
           |  SELECT src, v, level FROM m${k - 1}
           |  UNION ALL
           |  SELECT m${k - 1}.src, badj.d AS v, m${k - 1}.level + 1
           |  FROM m${k - 1} JOIN badj ON m${k - 1}.v = badj.s)
           |  GROUP BY src, v)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |badj AS (SELECT a AS s, b AS d FROM ed
         |         UNION SELECT b AS s, a AS d FROM ed),
         |srcs AS (SELECT v FROM (SELECT DISTINCT s AS v FROM badj)
         |         ORDER BY v LIMIT 3),
         |m0 AS MATERIALIZED (SELECT v AS src, v, CAST(0 AS BIGINT) AS level
         |                    FROM srcs),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT v, CAST(count(*) AS BIGINT) AS n_sources_reached,
         |  CAST(sum(6 // level) AS BIGINT) AS harmonic_x6
         |FROM m3 WHERE level > 0 GROUP BY v""".stripMargin
    },

    // q156: BOTH stress passes unrolled — forward frontiers f1..f3
    // carry first-arrival σ sums (NOT EXISTS against the accumulated
    // visited set = the Spark left-anti), backward h3..h0 fold
    // tail counts one level at a time over the same adjacency.
    "q156_stress_centrality" -> {
      def fRound(k: Int) =
        s"""f$k AS MATERIALIZED (
           |  SELECT f.src, badj.d AS v, CAST($k AS BIGINT) AS level,
           |    CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM f${k - 1} f JOIN badj ON f.v = badj.s
           |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} vv
           |                    WHERE vv.src = f.src AND vv.v = badj.d)
           |  GROUP BY 1, 2),
           |v$k AS MATERIALIZED (SELECT * FROM v${k - 1}
           |                     UNION ALL SELECT * FROM f$k)""".stripMargin
      def hRound(l: Int) =
        s"""h$l AS MATERIALIZED (
           |  SELECT f.src, f.v, CAST(coalesce(s.hs, 0) AS BIGINT) AS h
           |  FROM f$l f LEFT JOIN (
           |    SELECT f$l.src, f$l.v, sum(h${l + 1}.h + 1) AS hs
           |    FROM f$l JOIN badj ON f$l.v = badj.s
           |    JOIN h${l + 1} ON h${l + 1}.src = f$l.src
           |                  AND h${l + 1}.v = badj.d
           |    GROUP BY 1, 2) s ON s.src = f.src AND s.v = f.v)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |badj AS (SELECT a AS s, b AS d FROM ed
         |         UNION SELECT b AS s, a AS d FROM ed),
         |srcs AS (SELECT v FROM (SELECT DISTINCT s AS v FROM badj)
         |         ORDER BY v LIMIT 3),
         |f0 AS MATERIALIZED (SELECT v AS src, v, CAST(0 AS BIGINT) AS level,
         |                    CAST(1 AS BIGINT) AS sigma FROM srcs),
         |v0 AS MATERIALIZED (SELECT * FROM f0),
         |${fRound(1)},
         |${fRound(2)},
         |${fRound(3)},
         |h3 AS MATERIALIZED (SELECT src, v, CAST(0 AS BIGINT) AS h FROM f3),
         |${hRound(2)},
         |${hRound(1)},
         |${hRound(0)},
         |hh AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1
         |       UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
         |SELECT vx.v, CAST(sum(vx.sigma * hh.h) AS BIGINT) AS stress
         |FROM v3 vx JOIN hh ON hh.src = vx.src AND hh.v = vx.v
         |WHERE vx.v <> vx.src
         |GROUP BY 1""".stripMargin
    },

    // q157: every hop replayed — the same id-ranked neighbor index,
    // degree modulus, and LCG seed arithmetic.
    "q157_random_walks" -> {
      def hop(t: Int) =
        s"""w$t AS MATERIALIZED (
           |  SELECT w.start_v, w.walk_j, CAST($t AS BIGINT) AS step,
           |    wrk.d AS v
           |  FROM w${t - 1} w
           |  JOIN wdg ON w.v = wdg.s
           |  JOIN wrk ON wrk.s = w.v AND wrk.idx =
           |    (${lcgHashSql(s"w.v * 1000 + w.walk_j * 101 + $t * 11")})
           |      % wdg.deg)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |badj AS (SELECT a AS s, b AS d FROM ed
         |         UNION SELECT b AS s, a AS d FROM ed),
         |wrk AS (SELECT s, d,
         |         CAST(row_number() OVER (PARTITION BY s ORDER BY d) - 1
         |           AS BIGINT) AS idx
         |       FROM badj),
         |wdg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
         |       FROM badj GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT vv.v AS start_v, CAST(j.j AS BIGINT) AS walk_j,
         |    CAST(0 AS BIGINT) AS step, vv.v
         |  FROM (SELECT DISTINCT s AS v FROM badj) vv,
         |       (SELECT unnest(generate_series(0, 1)) AS j) j),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)},
         |${hop(4)}
         |SELECT * FROM w0 UNION ALL SELECT * FROM w1
         |UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
         |UNION ALL SELECT * FROM w4""".stripMargin
    },

    // q160: the biased hops replayed — uniform first hop, then per
    // hop the candidate fan-out, the CASE weight (EXISTS = common
    // neighbor of prev and v), the running weight sum, and the same
    // modular pick.
    "q160_node2vec_walks" -> s"$n2vWalksChainSql\n$n2vWalksSelectSql",

    // q220: the SAME walk chain as q160, then skip-gram window-2
    // co-occurrence counts and the q158 integer PMI lift over them —
    // the implicit matrix DeepWalk/node2vec factorizes.
    "q220_walk_pmi" ->
      s"""$n2vWalksChainSql,
         |wk AS MATERIALIZED ($n2vWalksSelectSql),
         |co AS (SELECT a.v AS u, b.v AS w FROM wk a JOIN wk b
         |       ON a.start_v = b.start_v AND a.walk_j = b.walk_j
         |       AND abs(a.step - b.step) BETWEEN 1 AND 2
         |       AND a.v <> b.v),
         |cnt AS (SELECT u, w, CAST(count(*) AS BIGINT) AS n_uw
         |        FROM co GROUP BY 1, 2),
         |cu AS (SELECT u, CAST(sum(n_uw) AS BIGINT) AS n_u
         |       FROM cnt GROUP BY 1),
         |cx AS (SELECT w, CAST(sum(n_uw) AS BIGINT) AS n_w
         |       FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_uw) AS BIGINT) AS n_total FROM cnt)
         |SELECT u, w, n_uw, n_u, n_w, n_total,
         |  round(CAST(n_uw * n_total AS DOUBLE) / CAST(n_u * n_w AS DOUBLE), 4)
         |    AS lift
         |FROM cnt JOIN cu USING (u) JOIN cx USING (w) CROSS JOIN tot
         |WHERE n_uw >= 2
         |ORDER BY lift DESC, u, w LIMIT 50""".stripMargin,

    // Bellman-Ford unrolled: 4 MATERIALIZED relaxation rounds over the
    // weighted k-NN spine, sparse frontier (union + group-min), source
    // = the spine's min vertex — every step exact int64
    "q110_shortest_paths" -> {
      def round(k: Int) =
        s"""d$k AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
           |  SELECT v, dist FROM d${k - 1}
           |  UNION ALL
           |  SELECT wsym.v, d${k - 1}.dist + wsym.wt
           |  FROM d${k - 1} JOIN wsym ON d${k - 1}.v = wsym.u)
           |  GROUP BY v)""".stripMargin
      s"""WITH $coShipSql,
         |$knnSql,
         |wk AS (SELECT ed.a, ed.b,
         |         1 + 1000 // e.orders_together AS w
         |       FROM ed JOIN e ON ed.a = e.s1 AND ed.b = e.s2),
         |wsym AS (SELECT u, v, CAST(min(w) AS BIGINT) AS wt FROM (
         |        SELECT a AS u, b AS v, w FROM wk
         |        UNION ALL SELECT b, a, w FROM wk)
         |        WHERE u <> v GROUP BY u, v),
         |src AS (SELECT least(min(a), min(b)) AS s FROM wk),
         |d0 AS MATERIALIZED (SELECT s AS v, CAST(0 AS BIGINT) AS dist
         |                    FROM src),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT v, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin
    },

    // components (recursive CTE) x triangle counts (naive 3-join),
    // both over the k-NN substrate — the q109 SQL-view composition
    "q109_graph_views_sql" ->
      s"""WITH RECURSIVE $coShipSql,
         |$knnSql,
         |adj AS (SELECT a AS s, b AS d FROM ed
         |        UNION SELECT b AS s, a AS d FROM ed),
         |verts AS (SELECT DISTINCT s AS v FROM adj),
         |reach(v, u) AS (SELECT v, v FROM verts
         |  UNION
         |  SELECT r.v, adj.d FROM reach r JOIN adj ON r.u = adj.s),
         |comp AS (SELECT v, CAST(min(u) AS BIGINT) AS comp
         |         FROM reach GROUP BY v),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tv AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |       UNION ALL SELECT z FROM tri),
         |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM tv GROUP BY v)
         |SELECT c.comp, CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(coalesce(sum(tc.n_triangles), 0) AS BIGINT)
         |    AS total_triangles,
         |  CAST(count(CASE WHEN tc.n_triangles IS NULL THEN 1 END)
         |    AS BIGINT) AS n_triangle_free
         |FROM comp c LEFT JOIN tc ON c.v = tc.v
         |GROUP BY c.comp""".stripMargin,

    // naive form: ed is canonical (a < b) so each triangle appears
    // exactly once as (x, y) (y, z) (x, z) with x < y < z
    "q83_triangle_counts" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tv AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |       UNION ALL SELECT z FROM tri)
         |SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM tv GROUP BY v""".stripMargin,

    // q234: the same degree join over the undirected-both edge list;
    // DuckDB's sum(BIGINT) is int128 so the piece products cast back
    // to BIGINT exactly at the gate SFs.
    "q234_degree_assortativity" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |sy3 AS (SELECT a AS u, b AS v FROM ed
         |        UNION ALL SELECT b AS u, a AS v FROM ed),
         |dg AS (SELECT u, count(*) AS deg FROM sy3 GROUP BY 1),
         |xy2 AS (SELECT dx.deg AS x, dy.deg AS y FROM sy3
         |        JOIN dg dx ON sy3.u = dx.u
         |        JOIN dg dy ON sy3.v = dy.u)
         |SELECT CAST(count(*) AS BIGINT) AS m2,
         |  CAST(sum(x) AS BIGINT) AS sum_x,
         |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
         |  CAST(sum(x * x) AS BIGINT) AS sum_xx,
         |  CAST(count(*) * sum(x * y) - sum(x) * sum(x) AS BIGINT)
         |    AS r_num,
         |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
         |    AS r_den
         |FROM xy2""".stripMargin,

    "q97_edge_support" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |te AS (SELECT x AS u, y AS v FROM tri
         |       UNION ALL SELECT y, z FROM tri
         |       UNION ALL SELECT x, z FROM tri),
         |sup AS (SELECT u, v, CAST(count(*) AS BIGINT) AS support
         |        FROM te GROUP BY 1, 2)
         |SELECT ed.a AS s1, ed.b AS s2,
         |  coalesce(sup.support, 0) AS support
         |FROM ed LEFT JOIN sup ON ed.a = sup.u AND ed.b = sup.v""".stripMargin,

    "q96_degree_structure" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |adj AS (SELECT a AS s, b AS t FROM ed
         |        UNION ALL SELECT b AS s, a AS t FROM ed),
         |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg
         |        FROM adj GROUP BY s),
         |hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices
         |         FROM deg GROUP BY deg),
         |mom AS (SELECT CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sum_xy,
         |          CAST(sum(dx.deg) AS BIGINT) AS sum_x,
         |          CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sum_x2,
         |          CAST(count(*) AS BIGINT) AS m
         |        FROM adj JOIN deg dx ON adj.s = dx.s
         |                 JOIN deg dy ON adj.t = dy.s)
         |SELECT deg, n_vertices, CAST(NULL AS BIGINT) AS sum_xy,
         |  CAST(NULL AS BIGINT) AS sum_x, CAST(NULL AS BIGINT) AS sum_x2,
         |  CAST(NULL AS BIGINT) AS m
         |FROM hist
         |UNION ALL
         |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |  sum_xy, sum_x, sum_x2, m FROM mom""".stripMargin,

    "q89_clustering_coeff" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |                   JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tv AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |       UNION ALL SELECT z FROM tri),
         |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM tv GROUP BY v),
         |adj AS (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed),
         |deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v)
         |SELECT deg.v, coalesce(tc.n_triangles, 0) AS n_triangles,
         |  CAST(deg * (deg - 1) // 2 AS BIGINT) AS n_wedges
         |FROM deg LEFT JOIN tc ON deg.v = tc.v""".stripMargin,

    "q84_link_prediction" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |adj AS (SELECT a AS s, b AS d FROM ed
         |        UNION ALL SELECT b AS s, a AS d FROM ed),
         |deg AS (SELECT s AS n, count(*) AS deg FROM adj GROUP BY s),
         |wg AS (SELECT a1.d AS u, a2.d AS v, count(*) AS cn
         |       FROM adj a1 JOIN adj a2 ON a1.s = a2.s AND a1.d < a2.d
         |       GROUP BY 1, 2),
         |nw AS (SELECT wg.u, wg.v, wg.cn FROM wg
         |       LEFT JOIN ed ON wg.u = ed.a AND wg.v = ed.b
         |       WHERE ed.a IS NULL AND wg.cn >= 2)
         |SELECT nw.u AS s1, nw.v AS s2, CAST(nw.cn AS BIGINT) AS cn,
         |  CAST(d1.deg + d2.deg - nw.cn AS BIGINT) AS union_size
         |FROM nw JOIN deg d1 ON nw.u = d1.n
         |        JOIN deg d2 ON nw.v = d2.n""".stripMargin,

    "q101_link_prediction_capped" ->
      s"""WITH $coShipSql,
         |$knnSql,
         |adj AS (SELECT a AS s, b AS d FROM ed
         |        UNION ALL SELECT b AS s, a AS d FROM ed),
         |deg AS (SELECT s AS n, count(*) AS deg FROM adj GROUP BY s),
         |wg AS (SELECT a1.d AS u, a2.d AS v, count(*) AS cn
         |       FROM adj a1 JOIN adj a2 ON a1.s = a2.s AND a1.d < a2.d
         |       JOIN deg dp ON a1.s = dp.n AND dp.deg <= 4
         |       GROUP BY 1, 2),
         |nw AS (SELECT wg.u, wg.v, wg.cn FROM wg
         |       LEFT JOIN ed ON wg.u = ed.a AND wg.v = ed.b
         |       WHERE ed.a IS NULL AND wg.cn >= 2)
         |SELECT nw.u AS s1, nw.v AS s2, CAST(nw.cn AS BIGINT) AS cn,
         |  CAST(d1.deg + d2.deg - nw.cn AS BIGINT) AS union_size
         |FROM nw JOIN deg d1 ON nw.u = d1.n
         |        JOIN deg d2 ON nw.v = d2.n""".stripMargin,

    "q35_ego_bfs" ->
      s"""WITH $coShipSql,
         |ed AS (SELECT s1 AS a, s2 AS b FROM e
         |       WHERE orders_together >= $MinWeight),
         |adj AS (SELECT a AS s, b AS d FROM ed
         |        UNION SELECT b AS s, a AS d FROM ed),
         |l1 AS (SELECT DISTINCT d FROM adj WHERE s = 1 AND d <> 1),
         |l2 AS (SELECT DISTINCT d FROM adj
         |       WHERE s IN (SELECT d FROM l1) AND d <> 1
         |         AND d NOT IN (SELECT d FROM l1))
         |SELECT CAST(1 AS BIGINT) AS v, CAST(0 AS INTEGER) AS level
         |UNION ALL SELECT d, 1 FROM l1
         |UNION ALL SELECT d, 2 FROM l2""".stripMargin,

    "q36_dwarf_sample" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderkey % 97 = 0)""".stripMargin,

    "q37_disjunctive_join" ->
      """SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_matched_events
        |FROM events JOIN customer
        |  ON user_id = c_custkey OR user_id = c_nationkey
        |GROUP BY c_custkey""".stripMargin,

    "q40_temporal_edges" ->
      """WITH a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS (SELECT a1.l_orderkey AS ok, a1.l_suppkey AS s1, a2.l_suppkey AS s2
        |      FROM a a1 JOIN a a2 ON a1.l_orderkey = a2.l_orderkey
        |                         AND a1.l_suppkey < a2.l_suppkey)
        |SELECT p.s1, p.s2, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM p JOIN orders o ON p.ok = o.o_orderkey
        |GROUP BY 1, 2, 3""".stripMargin,

    "q41_min_cost_supplier" ->
      """WITH mp AS (SELECT l_partkey, min(l_extendedprice) AS min_price
        |            FROM lineitem GROUP BY 1)
        |SELECT l.l_partkey, CAST(min(l.l_suppkey) AS BIGINT) AS s_min,
        |       mp.min_price
        |FROM lineitem l JOIN mp ON l.l_partkey = mp.l_partkey
        |                       AND l.l_extendedprice = mp.min_price
        |GROUP BY 1, 3""".stripMargin,

    "q46_asof_last_order" ->
      """WITH r AS (SELECT o_custkey, o_orderdate,
        |             CAST(max(o_orderkey) AS BIGINT) AS last_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.last_orderkey
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,

    "q58_asof_native" ->
      """WITH r AS (SELECT o_custkey, o_orderdate,
        |             CAST(max(o_orderkey) AS BIGINT) AS last_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.last_orderkey
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin,

    "q61_salted_join" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    "q107_skewed_salted_join" ->
      """WITH li AS (SELECT
        |    CASE WHEN l_orderkey % 5 = 0 THEN 1 ELSE l_suppkey END AS k,
        |    l_quantity
        |  FROM lineitem WHERE l_orderkey >= 0)
        |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM li JOIN supplier ON k = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    "q42_important_parts" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(value) AS total FROM pv)
        |SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS part_value
        |FROM pv, t WHERE value * 1500 > total""".stripMargin
  )
}
