package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Graph}

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox jumps over the sleepy cat"),
    (4L, "completely different content about spark engines here")
  ).toDF("doc_id", "text")

  test("exactGroups finds the exact duplicate group") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(groups.contains((1L, 2L)))
    assert(groups.count(_._2 == 1L) == 2)
  }

  test("ngramJaccardPairs scores exact and near duplicates") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // docs 1 and 3 share 5 of their 7-each 3-shingles: J = 5/9
    assert(pairs((1L, 3L)) == math.rint(5.0 / 9.0 * 10000) / 10000)
    assert(!pairs.contains((1L, 4L)))
  }

  test("contaminationCensus flags planted benchmark overlap") {
    // corpus doc 10 CONTAINS benchmark doc 100's 5-gram verbatim
    // (planted leak); doc 11 shares no 5-gram with any benchmark doc;
    // doc 12 is too short to carry a 5-gram (absent from the census)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"),
      (11L, "one two three four five six"),
      (12L, "too short here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationCensus(corpus, bench, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 10: 3 shingles (7 words), exactly 1 hits the benchmark
    assert(got(10L) == ((3L, 1L, 1L)))
    // doc 11: 2 shingles, clean — present with contaminated = 0
    assert(got(11L) == ((2L, 0L, 0L)))
    assert(!got.contains(12L)) // no shingle ⇒ no verdict
    assert(got.size == 2)
  }

  test("decontaminated mix (q198) excludes every contaminated doc and " +
       "fills at most half of each source's clean token mass") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val docs = graft.sources.Tables.documents(spark, dir)
    val contaminated = Dedup.contaminationCensus(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 5)
      .filter(col("contaminated") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(contaminated.nonEmpty, "fixture should plant some overlap")
    val mix = graft.queries.TextQueries.defs("q198_decontaminated_mix")(
        spark, dir)
      .as[(Long, String, Long, Long)].collect()
    assert(mix.nonEmpty)
    // no contaminated or benchmark doc is ever picked
    mix.foreach { case (id, _, _, _) =>
      assert(!contaminated.contains(id), s"contaminated doc $id in mix")
      assert(id % 50 != 0, s"benchmark doc $id in mix")
    }
    // per source: picked mass <= half the CLEAN source mass, and the
    // picked set is a prefix of the hash order (cum_tokens consistent)
    val cleanBySrc = docs.filter(col("doc_id") % 50 =!= 0)
      .filter(!col("doc_id").isInCollection(
        if (contaminated.isEmpty) Seq(-1L) else contaminated.toSeq))
      .select(col("source"),
        graft.functions.Bpe.tokenCount(col("text")).as("n"))
      .groupBy("source").agg(sum("n").as("tot"))
      .as[(String, Long)].collect().toMap
    mix.groupBy(_._2).foreach { case (src, rows) =>
      val picked = rows.map(_._3).sum
      assert(picked * 2 <= cleanBySrc(src),
        s"$src picked $picked of clean ${cleanBySrc(src)}")
    }
  }

  test("minhash LSH candidates include true near-dup pairs") {
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L))) // identical docs always collide
    assert(!cands.contains((1L, 4L))) // unrelated docs should not
  }

  test("minhashEstimate tracks true jaccard on the real fixture") {
    val fixture = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
    val sigs = Dedup.minhashSignatures(fixture, "doc_id", "text")
    val cands = Dedup.lshCandidates(sigs, "doc_id")
    val est = Dedup.minhashEstimate(cands, sigs, "doc_id")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val exact = Dedup.ngramJaccardPairs(fixture, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // every exact near-dup pair surfaced by LSH must estimate high
    val common = est.keySet & exact.keySet
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.35,
        s"$k est=${est(k)} exact=${exact(k)}")
    }
  }

  test("nearDupKeeper closes transitive chains and keeps the longest " +
       "member per cluster, ties to the smallest id") {
    // A~B and B~C by construction (each adjacent pair shares most
    // shingles); A and C differ more — the CHAIN must still land in
    // one cluster. C is longest → keeper. Doc 40 is a singleton and
    // must be absent from the verdicts.
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val chain = Seq(
      (10L, s"$base a1 a2"),
      (20L, s"$base a1 a2 b1"),
      (30L, s"$base a1 a2 b1 b2 b3"),
      (40L, "totally unrelated text about something else entirely now"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupKeeper(chain, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out.map(_._1) == Set(10L, 20L, 30L))
    assert(out == Set(
      (10L, 10L, 30L, 0L, 3L),
      (20L, 10L, 30L, 0L, 3L),
      (30L, 10L, 30L, 1L, 3L)))
    // equal-length tie goes to the smaller id
    val tie = Seq((7L, base), (3L, base)).toDF("doc_id", "text")
    val t = Dedup.nearDupKeeper(tie, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(t == Set((3L, 3L, 3L, 1L, 2L), (7L, 3L, 3L, 0L, 2L)))
  }

  test("resolveEntities maps duplicates to one canonical id") {
    val got = Dedup.resolveEntities(docs, "doc_id", "text", 0.8)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("resolveEntities through star-contraction components is identical") {
    // the O(log n) star contraction must produce the canonical mapping
    // min-label propagation gives over the same verified pairs
    val fixture = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
    val viaStar = Dedup.resolveEntities(fixture, "doc_id", "text", 0.4)
      .as[(Long, Long)].collect().toMap
    val labels = Graph.connectedComponents(
        Dedup.ngramJaccardPairs(fixture, "doc_id", "text", 3, 0.4), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val viaProp = fixture.select(col("doc_id")).as[Long].collect()
      .map(id => id -> labels.getOrElse(id, id)).toMap
    assert(viaStar == viaProp)
    assert(viaProp.exists { case (id, canon) => id != canon }) // non-trivial
  }

  test("simhash is equal for identical docs, differs for unrelated") {
    val sh = Dedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
  }

  test("ngramJaccardPairs is exact vs brute force on random docs") {
    // the PPJoin prefix + positional filters must lose NO pair at any
    // threshold, including thresholds not representable as k/10000
    val rnd = new scala.util.Random(5)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val corpus = (0 until 30).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    def shingles(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    for (t <- Seq(0.3, 1.0 / 3.0, 0.4567)) {
      val brute = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
        sa = shingles(ta); sb = shingles(tb)
        co = (sa & sb).size
        j = math.rint(co.toDouble / (sa.size + sb.size - co) * 10000) / 10000
        if j >= t
      } yield (ia, ib) -> j).toMap
      val got = Dedup.ngramJaccardPairs(corpus.toDF("doc_id", "text"),
          "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect()
        .map(p => (p._1, p._2) -> p._3).toMap
      assert(got == brute, s"threshold $t")
    }
  }

  test("cluster-safe split puts a whole near-dup chain in ONE split " +
       "keyed by the cluster minimum") {
    import org.apache.spark.sql.functions._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val chain = Seq(
      (10L, s"$base a1 a2"), (20L, s"$base a1 a2 b1"),
      (30L, s"$base a1 a2 b1 b2 b3"),
      (40L, "totally unrelated text about something else entirely now"))
      .toDF("doc_id", "text")
    val clusters = Dedup.nearDupKeeper(chain, "doc_id", "text")
      .select(col("doc_id"), col("cluster_id"))
    val split = chain.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canon"))
      .as[(Long, Long)].collect().toMap
    // chain members share the canon (= min id 10); the singleton keys
    // on itself — the q79 hash ladder then maps canon -> split, so
    // same canon == same split by construction
    assert(split(10L) == 10L && split(20L) == 10L && split(30L) == 10L)
    assert(split(40L) == 40L)
  }

  test("noveltyCensus scores a re-crawl 0, a first sighting 10000, and " +
       "a partial quote by its unseen fraction") {
    val base = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10" // 8 shingles
    val corpus = Seq(
      (1L, base),                     // all 8 first sightings -> 10000
      (2L, base),                     // exact re-crawl -> 0
      (3L, s"n1 n2 n3 n4 f1 f2 f3"),  // 5 shingles: 2 seen, 3 novel
      (4L, "x y")                     // sub-shingle: absent
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyCensus(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 8L, 0L, 10000L),
      (2L, 8L, 8L, 0L),
      (3L, 5L, 2L, 6000L)))
  }

  test("containmentPairs finds a quoted subset that Jaccard misses, " +
       "in the contained->container direction only") {
    // doc 1 (8 shingles) is quoted whole inside doc 2 (28 shingles):
    // J = 8/28 < 0.3 — invisible to a 0.7 Jaccard gate — but
    // C(1→2) = 1.0 and C(2→1) = 8/28 < 0.7
    val quoted = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val host = s"h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 $quoted x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    val corpus = Seq((1L, quoted), (2L, host),
      (3L, "n1 n2 n3 n4 n5 n6 n7 n8")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 8L, 8L, 10000L)))
    // symmetric-Jaccard control: the same pair is below a 0.7 gate
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.7)
      .as[(Long, Long, Double)].collect()
    assert(!j.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("containmentPairs is exact vs brute force on random docs") {
    // the containment prefix + positional filters must lose NO ordered
    // pair: co >= ceil(t*sz_a) forces a shared shingle inside the
    // probe prefix by pigeonhole, for ANY rarity order
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val corpus = (0 until 30).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    def shingles(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    for ((tn, td) <- Seq((7L, 10L), (1L, 3L), (1L, 1L))) {
      val brute = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia != ib
        sa = shingles(ta); sb = shingles(tb)
        co = (sa & sb).size
        if co * td >= tn * sa.size
      } yield (ia, ib) -> (co.toLong, sa.size.toLong,
        co.toLong * 10000L / sa.size)).toMap
      val got = Dedup.containmentPairs(corpus.toDF("doc_id", "text"),
          "doc_id", "text", 3, tn, td)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(p => (p._1, p._2) -> (p._3, p._4, p._5)).toMap
      assert(got == brute, s"threshold $tn/$td")
    }
  }

  test("lsh dedup-eval recall table equals brute force (independent " +
       "exact truth AND replayed signatures)") {
    // corpus spanning the jaccard range: bases plus suffix-mutated
    // copies at several overlap levels
    val rnd = new scala.util.Random(21)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val bases = (0 until 8).map(i =>
      Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val corpus = bases.zipWithIndex.flatMap { case (b, i) =>
      val extra = (1 to (i % 4)).map(j => s"x${i}_$j").mkString(" ")
      Seq((i * 10L, b), (i * 10L + 1, if (extra.isEmpty) b else s"$b $extra"))
    }
    def shingles(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sigs = corpus.map { case (id, t) =>
      id -> Dedup.localMinhashSig(t) }.toMap
    val brute = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      co = (sa & sb).size
      j = math.rint(co.toDouble / (sa.size + sb.size - co) * 10000) / 10000
      if j >= 0.3
    } yield {
      val m = sigs(ia).zip(sigs(ib)).count(p => p._1 == p._2)
      (math.floor(j * 10).toLong, if (m >= 16) 1L else 0L)
    }).groupBy(_._1).map { case (dec, xs) =>
      val flagged = xs.map(_._2).sum
      dec -> (xs.size.toLong, flagged,
        flagged * 10000L / xs.size)
    }
    import org.apache.spark.sql.functions._
    val df = corpus.toDF("doc_id", "text")
    val ex = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.3)
    val s2 = Dedup.minhashSignatures(df, "doc_id", "text")
    val lsh = Dedup.minhashEstimate(
        Dedup.lshCandidates(s2, "doc_id"), s2, "doc_id")
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), lit(1L).as("flagged"))
    val got = ex.join(lsh, Seq("id_a", "id_b"), "left")
      .select(floor(col("jaccard") * 10).cast("long").as("decile"),
        coalesce(col("flagged"), lit(0L)).as("flagged"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_true"), sum(col("flagged")).as("n_flagged"))
      .select(col("decile"), col("n_true"), col("n_flagged"),
        floor(col("n_flagged") * 10000L / col("n_true")).cast("long")
          .as("recall_x10k"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == brute)
    // an LSH-flagged pair is only countable if the exact path saw it:
    // bands alone may surface sub-0.3 pairs, never the reverse
    assert(brute.values.forall { case (t, f, _) => f <= t })
  }

  test("sortedNeighborhoodPairs emits exactly the rank-window pairs") {
    import org.apache.spark.sql.functions._
    // keys crafted so sort order differs from id order, with a tie
    // broken by id (two "mm" rows)
    val rows = Seq((10L, "aa"), (3L, "mm"), (7L, "mm"), (1L, "zz"),
      (5L, "bb"), (8L, "cc")).toDF("id", "k")
    val got = Dedup.sortedNeighborhoodPairs(rows, "id", "k", window = 2)
      .select($"id_a", $"id_b", $"gap").as[(Long, Long, Long)]
      .collect().toSet
    // sort order: aa(10) bb(5) cc(8) mm(3) mm(7) zz(1) → ranks 1..6
    val ranked = Seq(10L, 5L, 8L, 3L, 7L, 1L)
    val want = (for {
      i <- ranked.indices; g <- 1 to 2; if i + g < ranked.length
    } yield (ranked(i), ranked(i + g), g.toLong)).toSet
    assert(got == want)
    // window is a hard cap: no pair 3+ positions apart
    assert(!got.exists(_._3 > 2) && got.size == 9)
  }

  test("simhashPairs banding is pigeonhole-exact vs brute force") {
    import org.apache.spark.sql.functions._
    val fixture = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
    val banded = Dedup.simhashPairs(fixture, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over all signature pairs
    val sig = Dedup.simhash64(fixture, "doc_id", "text")
    val a = sig.select(col("doc_id").as("id_a"), col("simhash").as("sa"))
    val b = sig.select(col("doc_id").as("id_b"), col("simhash").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("h"))
      .filter(col("h") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute)
    assert(banded.nonEmpty) // the corpus plants near-duplicates
  }

  test("duplicateSpans finds a cross-document span invisible to " +
    "whole-chunk fingerprints, with exact maximal offsets") {
    // a 20-token span shared by three docs at DIFFERENT offsets and
    // inside different filler — q94-style whole-chunk fingerprints
    // (hash of all 50 chunk tokens) can never match because the
    // surrounding filler differs, and in doc 1 the span straddles the
    // chunk-stride cut at token 40; span detection must still find it
    val span = (0 until 20).map(i => s"s$i")
    def filler(doc: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"f${doc}x$i")
    val fix = Seq(
      (1L, (filler(1, 30) ++ span ++ filler(1, 10, 30)).mkString(" ")),
      (2L, (span ++ filler(2, 40)).mkString(" ")),
      (3L, (filler(3, 5) ++ span ++ filler(3, 35, 5)).mkString(" ")),
      (4L, filler(4, 60).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(fix, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // each doc reports ONE maximal span (overlapping windows merged),
    // all 20 tokens long, 3 corpus copies of every shingle
    assert(got == Set(
      (1L, 30L, 49L, 20L, 3L),
      (2L, 0L, 19L, 20L, 3L),
      (3L, 5L, 24L, 20L, 3L)))
  }

  test("cdcChunks groups a shared paragraph at DIFFERENT offsets and " +
       "equals a local chunking twin exactly") {
    // the insertion-robustness property fixed-geometry chunking lacks:
    // doc 2 prepends 13 filler tokens, so every q94-style fixed chunk
    // of the shared paragraph differs — content-defined boundaries
    // realign after the first cut and the shared chunks still group
    val para = (0 until 120).map(i => s"p$i")
    val fix = Seq(
      (1L, para.mkString(" ")),
      (2L, ((0 until 13).map(i => s"g$i") ++ para).mkString(" ")),
      (3L, (0 until 50).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunks(fix, "doc_id", "text", 16, 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    val M = 1000000007L
    def pv(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % M)
    def chunksOf(ws: Seq[String]): Seq[Seq[String]] = {
      val vs = ws.map(pv)
      val cuts = (0 until ws.length).filter { i =>
        i >= 2 && ((vs(i - 2) * 770526733L) % M +
          (vs(i - 1) * 69069L) % M + vs(i)) % M % 16 == 0
      }.map(_ + 1)
      val starts = 0 +: cuts
      val ends = cuts :+ ws.length
      starts.zip(ends).filter { case (s, e) => e > s }
        .map { case (s, e) => ws.slice(s, e) }
    }
    val docs = Map(1L -> para,
      2L -> ((0 until 13).map(i => s"g$i") ++ para),
      3L -> (0 until 50).map(i => s"z$i"))
    val occ = docs.toSeq.flatMap { case (id, ws) =>
      chunksOf(ws).map(ch => (id, ch.mkString(" "), ch.length.toLong)) }
    val exp = occ.groupBy(_._2).collect {
      case (txt, os) if os.length >= 2 && os.head._3 >= 4 =>
        (pv(txt), os.head._3, os.length.toLong,
          os.map(_._1).distinct.length.toLong, os.map(_._1).min)
    }.toSet
    assert(exp.nonEmpty, "fixture must produce shared interior chunks")
    assert(exp.exists(_._4 == 2L), "a chunk must group ACROSS the docs")
    assert(got == exp)
  }

  test("cdcChunkArray (the streaming-legal column form) chunks " +
       "identically to the local window-chunker twin on the corpus") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val got = docs.select(col("doc_id"),
        explode(Dedup.cdcChunkArray($"text", 16)).as("c"))
      .select($"doc_id", $"c.chunk_text", $"c.n_tokens")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    val M = 1000000007L
    def pv(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % M)
    def chunksOf(ws: Seq[String]): Seq[Seq[String]] = {
      val vs = ws.map(pv)
      val cuts = (0 until ws.length).filter { i =>
        i >= 2 && ((vs(i - 2) * 770526733L) % M +
          (vs(i - 1) * 69069L) % M + vs(i)) % M % 16 == 0
      }.map(_ + 1)
      val starts = 0 +: cuts
      val ends = cuts :+ ws.length
      starts.zip(ends).filter { case (s, e) => e > s }
        .map { case (s, e) => ws.slice(s, e) }
    }
    val texts = docs.as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
      val exp = chunksOf(norm.split(" ", -1).toSeq)
        .map(ch => (ch.mkString(" "), ch.length.toLong))
      // compare as multisets: explode keeps array order per doc but
      // collect() order across partitions is not contractual
      assert(got.getOrElse(id, Nil).sorted == exp.sorted, s"doc $id")
    }
  }

  test("greedyCoverage picks by MARGINAL gain, not raw size: the " +
       "overlapping second-largest doc loses to the disjoint one") {
    // docA: 14 tokens → 12 unique shingles. docB: A's first 10 tokens
    // + 2 own → 8 shingles shared with A, 2 bridge shingles new.
    // docC: 11 disjoint tokens → 9 new shingles. Size order would
    // pick A then B; greedy must pick A (12), C (9), B (2).
    val aToks = (0 until 14).map(i => s"a$i")
    val fix = Seq(
      (1L, aToks.mkString(" ")),
      (2L, (aToks.take(10) ++ Seq("b0", "b1")).mkString(" ")),
      (3L, (0 until 11).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.greedyCoverage(fix, "doc_id", "text", k = 3)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 1L, 12L), (2L, 3L, 9L), (3L, 2L, 2L)))
    // exhaustion: asking for more picks than docs stops cleanly
    val more = Dedup.greedyCoverage(fix, "doc_id", "text", k = 5)
      .as[(Long, Long, Long)].collect()
    assert(more.length == 3)
    graft.Checkpoints.releaseAll(spark)
  }

  test("duplicateSpans merges a WITHIN-document repeat into two spans") {
    // the span repeats inside one doc; both occurrences come back,
    // separated by unique filler (no cross-run merge)
    val span = (0 until 10).map(i => s"r$i")
    val fix = Seq(
      (1L, (span ++ (0 until 7).map(i => s"u$i") ++ span).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(fix, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 9L, 10L, 2L), (1L, 17L, 26L, 10L, 2L)))
  }

  test("duplicateSpanCuts keeps exactly the canonical occurrence and " +
       "cutting the rest leaves no duplicated span behind") {
    val span = (0 until 20).map(i => s"s$i")
    def filler(doc: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"f${doc}x$i")
    val toks = Map(
      1L -> (filler(1, 30) ++ span ++ filler(1, 10, 30)),
      2L -> (span ++ filler(2, 40)),
      3L -> (filler(3, 5) ++ span ++ filler(3, 35, 5)),
      4L -> filler(4, 60))
    val fix = toks.toSeq.map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val cuts = Dedup.duplicateSpanCuts(fix, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1 holds the globally minimal occurrences (doc order) → kept;
    // docs 2 and 3 lose their full copies
    assert(cuts == Set((2L, 0L, 19L, 20L), (3L, 5L, 24L, 20L)))
    // apply the cuts and re-detect: nothing duplicated remains
    val cutsByDoc = cuts.groupBy(_._1)
    val after = toks.toSeq.map { case (id, ws) =>
      val drop = cutsByDoc.getOrElse(id, Set.empty)
        .flatMap(c => c._2 to c._3)
      (id, ws.zipWithIndex.collect {
        case (w, i) if !drop(i.toLong) => w
      }.mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(after, "doc_id", "text", 8).count() == 0L)

    // within-doc repeat: the first occurrence is canonical, the
    // second is cut
    val rep = Seq((1L,
      ((0 until 10).map(i => s"r$i") ++ (0 until 7).map(i => s"u$i") ++
        (0 until 10).map(i => s"r$i")).mkString(" "))).toDF("doc_id", "text")
    val repCuts = Dedup.duplicateSpanCuts(rep, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(repCuts == Set((1L, 17L, 26L, 10L)))
  }

  test("tfidfVectors produces hand-computed integer weights in " +
       "dictionary order and composes with the vector cosine family") {
    import org.apache.spark.sql.functions.col
    // N=3; df: x=2, y=2, z=1 → dict x(1), y(2), z(3); w = tf·30 // df
    val fix = Seq((1L, "x x y"), (2L, "x y"), (3L, "z"))
      .toDF("doc_id", "text")
    val vecs = Dedup.tfidfVectors(fix, "doc_id", "text", vocabSize = 3)
    val got = vecs.as[(Long, Seq[Double])].collect().toMap
    assert(got == Map(
      1L -> Seq(30.0, 15.0, 0.0),
      2L -> Seq(15.0, 15.0, 0.0),
      3L -> Seq(0.0, 0.0, 30.0)))
    val pairs = graft.operators.Similarity
      .cosinePairs(vecs, "doc_id", "tfidf", 0.1)
      .as[(Long, Long, Double)].collect().toSet
    // cos(d1,d2) = 675 / (√1125·√450) = 0.9487; z-doc orthogonal
    assert(pairs == Set((1L, 2L, 0.9487)))
    graft.Checkpoints.releaseAll(spark)

    // the vectors feed the scale candidate paths unchanged: IVF pairs
    // over tfidf vectors keep exact precision (same verify threshold)
    // and healthy recall of the exact pair set on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tv = Dedup.tfidfVectors(docs, "doc_id", "text")
      .localCheckpoint() // two consumers below
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val exactP = ps(graft.operators.Similarity
      .cosinePairs(tv, "doc_id", "tfidf", 0.9))
    val ivfP = ps(graft.operators.Similarity
      .cosinePairsIvf(tv, "doc_id", "tfidf", 0.9))
    assert(exactP.nonEmpty)
    assert((ivfP -- exactP).isEmpty) // precision exact by construction
    val recall = (ivfP & exactP).size.toDouble / exactP.size
    info(s"IVF recall on tfidf vectors: $recall")
    assert(recall >= 0.8)
    graft.Checkpoints.releaseAll(spark)
  }

  test("duplicateSpans is exact vs brute force on random docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d") // tiny vocab → dense repeats
    val L = 4
    val corpus = (0 until 25).map { i =>
      (i.toLong, Seq.fill(10 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // brute force: L-gram counts over the corpus, islands per doc
    val grams = corpus.flatMap { case (id, t) =>
      val ws = t.split(" ")
      ws.sliding(L).zipWithIndex.collect {
        case (g, p) if g.length == L => (id, p.toLong, g.mkString(" "))
      }
    }
    val occ = grams.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val brute = grams.filter(g => occ(g._3) >= 2).groupBy(_._1).toSeq
      .flatMap { case (id, gs) =>
        val sorted = gs.sortBy(_._2)
        // split into runs of consecutive positions
        sorted.foldLeft(List.empty[List[(Long, Long, String)]]) {
          case (acc @ (run :: rest), g) if g._2 == run.head._2 + 1 =>
            (g :: run) :: rest
          case (acc, g) => List(g) :: acc
        }.map { run =>
          val ps = run.map(_._2)
          (id, ps.min, ps.max + L - 1, ps.max - ps.min + L,
            run.map(g => occ(g._3)).min)
        }
      }.toSet
    val got = Dedup.duplicateSpans(corpus.toDF("doc_id", "text"), "doc_id",
        "text", L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == brute)
    assert(got.nonEmpty) // the tiny vocab guarantees repeats
  }

  test("incrementalNearDup admits exact copies and near-dups against the " +
       "persisted index and rejects novel docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about distributed dataflow"),
      (3L, "yet another unrelated piece of text with many unique words"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_test").toString
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and"),
      (12L, "entirely novel content that shares no shingles with anything"),
      (13L, "x y")) // sub-shingle-length: no signature at all
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(spark, dir, batch, "doc_id", "text")
      .as[(Long, Option[Long], Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L) == ((10L, Some(1L), 32L, true)))  // exact: all slots
    val (_, m11, a11, d11) = got(11L)                 // near-dup: most slots
    assert(m11.contains(1L) && d11 && a11 >= 16L && a11 < 32L)
    assert(got(12L)._4 == false && got(12L)._2.isEmpty)
    assert(got(13L) == ((13L, None, 0L, false)))      // surfaced, not dropped
    assert(got.size == 4)
  }

  test("q221 blocking eval: a sort-distant near-dup is missed at " +
       "window 2 and caught at window 5 — the PC/RR tradeoff is real") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q221").toString
    // d0 and d4 share 8 of 10 three-gram shingles (J = 0.8) but their
    // PREFIXES sort 4 ranks apart (aaa... vs eee..., with bbb/ccc/ddd
    // filler between) — exactly the pair a too-narrow sorted
    // neighborhood misses. Filler docs share no shingles with anything.
    val docs = Seq(
      (0L, "aaa q w e r t y u i o p", "en", "s0", 0L),
      (1L, "bbb f1 f2 f3 f4 f5 f6 f7 f8 f9 fa", "en", "s0", 0L),
      (2L, "ccc g1 g2 g3 g4 g5 g6 g7 g8 g9 ga", "en", "s0", 0L),
      (3L, "ddd h1 h2 h3 h4 h5 h6 h7 h8 h9 ha", "en", "s0", 0L),
      (4L, "eee q w e r t y u i o p", "en", "s0", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q221_blocking_eval")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // the single true pair (0,4): invisible at w=2, visible at w=5
    assert(rows(2L) == ((2L, 7L, 0L, 1L, 0L, 3000L)), s"w=2: ${rows(2L)}")
    assert(rows(5L) == ((5L, 10L, 1L, 1L, 10000L, 0L)), s"w=5: ${rows(5L)}")
    assert(rows(10L)._3 == 1L && rows(10L)._5 == 10000L)
    graft.Checkpoints.releaseAll(spark)
  }
}
