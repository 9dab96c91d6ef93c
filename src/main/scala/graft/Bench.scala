package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // warmup: absorb session/JIT/codegen/file-index cold-start so the
    // first timed query isn't charged for it
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Fixed CPU-bound probe run before and after the suite: a load
    // calibration for the box the bench happens to run on. Quiet-box
    // reference is ~0.27 s at 32 threads (see BENCH.md); if calib comes
    // back inflated k×, the whole suite ran under ~k× CPU contention and
    // the total should be read against that, not against quiet numbers.
    def calib(): Double = {
      val t0 = System.nanoTime()
      // pmod keeps the running sum bounded (67M × 1e9 << Long.Max) — a
      // raw sum(xxhash64) overflows under ANSI mode and kills the run.
      // A failing probe must not lose the whole bench (that's exactly
      // the overloaded-box case it exists to measure) — report -1.
      try spark.range(1L << 26)
        .selectExpr("sum(pmod(xxhash64(id), 1000000000)) AS s").collect()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // IO-bound probe: a full lineitem scan-count — catches page-cache /
    // disk contention the CPU probe can't see (observed: a bench run
    // right after the test suite shows quiet CPU calib yet ~25% slower
    // scans across the board)
    def calibIo(): Double = {
      val t0 = System.nanoTime()
      try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // Memory-BANDWIDTH probe: stream a cache-defeating 256 MB array
    // twice. The roaming co-tenant saturates the memory controllers
    // while the CPU and IO probes read calm (round-13: a full sf1 run
    // read lf 0.92 with 39 queries 2-19x inflated; quietrun's python
    // twin of this probe was the only bracket that saw it — ~25 ms
    // quiet, 45-1000+ ms co-tenant at 1 GB/s-scale theft). Recording
    // it in the artifact lets a reader attribute inflated per-query
    // levels to bandwidth theft without a side-channel log.
    // The buffer is allocated per probe and dropped right after: a
    // permanently-resident 256 MB array would add old-gen pressure to
    // the same JVM being measured, and all pre-round-13 floors were
    // settled without it. Allocation + the untimed first-touch pass
    // happen inside the call, outside the timed section.
    def calibBw(): Double = {
      // same failure discipline as calib()/calibIo(): a 256 MB
      // allocation failing in the END bracket (heap-pressured, after
      // the suite) must record -1, not throw away the run's artifact
      try {
        val bwBuf = new Array[Long](32 * 1024 * 1024)
        var warm = 0L
        var j = 0
        while (j < bwBuf.length) { warm += bwBuf(j); j += 1 } // page-in, untimed
        val t0 = System.nanoTime()
        var acc = warm
        var r = 0
        while (r < 2) {
          var i = 0
          while (i < bwBuf.length) { acc += bwBuf(i); i += 1 }
          r += 1
        }
        if (acc == 42L) println("") // defeat dead-code elimination
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    calib() // untimed: absorb the probe's own codegen so start/end compare
    calibIo()
    calibBw() // untimed: absorb the probe's own codegen
    // In-JVM calm wait (round 15): SPARK_GRAFT_WAIT_CALM=<cap_ms> parks
    // the fully-warmed JVM on the bandwidth probe until two consecutive
    // readings sit under the cap, so the calm window a qualified
    // measurement needs shrinks from (JVM start + warmup + suite) to
    // just the suite — the only window size this box ever offers
    // (946 + 527 watcher probes across rounds 13-14 found no
    // multi-minute calm, while the co-tenant's gaps are ~15 s). On
    // SPARK_GRAFT_WAIT_TIMEOUT (s, default 600) expiry the run ABORTS
    // with a sentinel artifact (nfailed:-1 — every gate refuses it)
    // instead of burning a hot measurement. The wait sits BEFORE the
    // START brackets and statStart, so lf/steal/brackets measure only
    // the suite itself.
    // SPARK_GRAFT_ONLY=a,b,c runs a subset — for solo re-mins of single
    // queries without paying the full suite. Subset runs are for
    // measurement notes only, never committable records (benchcheck's
    // stale-reference scan rejects them by construction).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // mirror Verify's loud guard: a typo'd solo re-min must not run zero
    // queries and write a plausible-looking BENCH_SUBSET.json
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // loud parse (review round-15): a malformed cap value silently
    // skipping the wait would fire a hot measurement while the operator
    // believes the gate is armed — same discipline as the
    // SPARK_GRAFT_ONLY require below
    val calmWaitRaw = sys.env.get("SPARK_GRAFT_WAIT_CALM")
    calmWaitRaw.foreach { v =>
      require(v.toDoubleOption.exists(_ > 0),
        s"SPARK_GRAFT_WAIT_CALM must be a positive cap in ms, got '$v'")
    }
    // same loud discipline for the timeout (advisor round-15): a typo'd
    // value silently falling back to 600 s changes how long the calm
    // gate holds while the operator believes their setting took
    val timeoutRaw = sys.env.get("SPARK_GRAFT_WAIT_TIMEOUT")
    timeoutRaw.foreach { v =>
      require(v.toDoubleOption.exists(_ > 0),
        s"SPARK_GRAFT_WAIT_TIMEOUT must be a positive duration in s, got '$v'")
    }
    val capMsOpt = calmWaitRaw.flatMap(_.toDoubleOption)
    // SPARK_GRAFT_WAIT_EACH=on (round 16): park on the bandwidth probe
    // before EVERY query, not just before the suite — the admission
    // quantum shrinks from the whole batch (20+ s) to one query, so a
    // single ~15 s calm gap lands the 1-3 queries it covers even when
    // the rest of the run is hot. Requires WAIT_CALM. on|off only,
    // loudly (the probeMemo lesson: 'true' silently meaning 'off' is a
    // behavior flip nobody asked for).
    val waitEach = sys.env.get("SPARK_GRAFT_WAIT_EACH") match {
      case None => false
      case Some(v) if v.trim.equalsIgnoreCase("on")  => true
      case Some(v) if v.trim.equalsIgnoreCase("off") => false
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_WAIT_EACH must be 'on' or 'off', got '$v'")
    }
    require(!waitEach || capMsOpt.isDefined,
      "SPARK_GRAFT_WAIT_EACH=on requires SPARK_GRAFT_WAIT_CALM")
    val timeoutS = timeoutRaw.flatMap(_.toDoubleOption).getOrElse(600.0)
    // One shared deadline for ALL waiting (initial + per-query) — a
    // budget of WAIT time, not wall-clock: each measured query's own
    // runtime is credited back below, so a calm stretch entered late
    // in the window isn't truncated by the time the queries themselves
    // take (review round-16: a box calm from t=800 of a 900 s window
    // would otherwise mark the batch's tail unmeasured mid-harvest)
    var waitDeadline = System.nanoTime() + (timeoutS * 1e9).toLong
    // Park until two bandwidth readings clear the cap. Cadence matters
    // more than it looks (round 16): the round-15 wait slept 15 s after
    // every hot reading while needing 2 consecutive calm ones — inside
    // the ~15 s calm gaps this box actually offers, that loop fires
    // essentially never (fifteen straight timeouts). Now a hot reading
    // sleeps 3 s and a calm one re-probes immediately, so entering a
    // gap costs ~0.2 s instead of >=15 s. Probe duty stays low: ~50-100
    // ms of streaming per 3 s (~3%), far from heating the box.
    def waitCalm(capMs: Double): (Boolean, Double) = {
      var streak = 0
      var last = -1.0
      while (streak < 2 && System.nanoTime() < waitDeadline) {
        last = calibBw()
        if (last > 0 && last * 1000 <= capMs) streak += 1
        else { streak = 0; Thread.sleep(3000) }
      }
      (streak >= 2, last)
    }
    // locale-safe ms formatting (advisor round-15: the f interpolator
    // is locale-sensitive — a comma-decimal JVM default would emit
    // unparseable JSON in the one artifact whose job is being parsed)
    def ms1(s: Double): Double = math.round(s * 10000) / 10.0
    val sentinelDefault =
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_LAST_ATTEMPT.json"
    def writeSentinel(capMs: Double, last: Double): Unit = {
      val sentinel =
        s"""{"metric":"total","calm_wait":"timeout","wait_cap_ms":$capMs,""" +
          s""""last_bw_ms":${ms1(last)},"nfailed":-1}"""
      println(sentinel)
      // same default as the normal artifact path (review round-15: a
      // FULL run's timeout sentinel landing in BENCH_SUBSET.json left a
      // stale BENCH_LAST_ATTEMPT.json looking current)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_OUT", sentinelDefault)),
        sentinel + "\n")
      catch { case scala.util.control.NonFatal(_) => }
    }
    val calmWaitOk = capMsOpt match {
      case None => true
      case Some(capMs) =>
        val (ok, last) = waitCalm(capMs)
        if (!ok) writeSentinel(capMs, last)
        ok
    }
    if (!calmWaitOk) { spark.stop(); return }
    val calibStart = calib()
    val calibIoStart = calibIo()
    val calibBwStart = calibBw()
    val statStart = procStatCpu()
    // A thrown query must be VISIBLE in the artifact, not recorded as a
    // fast run: round 7 logged 16 analysis-broken queries as ~0.06 s
    // timings and the headline total silently claimed they executed.
    val errors = scala.collection.mutable.Map.empty[String, String]
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // Per-query brackets (round 16): a bandwidth probe + /proc/stat
    // steal reading at every query BOUNDARY, recorded in the detail
    // line as {"q":[bw_pre_ms,bw_post_ms,steal_ticks]}. Three sessions
    // of probe logs show the co-tenant leaves ~15 s gaps but never a
    // suite-length window — per-query brackets make each query's
    // measurement self-attributing (quietrun admits the bracket-calm
    // subset of a refused batch; a poisoned driver record shows WHICH
    // queries the thief inflated). Probes are untimed (outside t0..t),
    // so per-query timings and the total are unaffected; the boundary
    // probe after query i doubles as the pre-probe of query i+1.
    def stealNow(): Long = procStatCpu().map(_._1).getOrElse(-1L)
    val brackets =
      scala.collection.mutable.Map.empty[String, (Double, Double, Long)]
    val unmeasured = scala.collection.mutable.ArrayBuffer.empty[String]
    var bwPrev = calibBwStart
    var stealPrev = stealNow()
    var expired = false
    val results: Map[String, Double] = selected.flatMap { case (name, fn) =>
      if (expired) { unmeasured += name; None }
      else {
        val waitedOk =
          if (!waitEach) true
          else {
            // park until calm (shared deadline); the wait's last probe
            // reading IS this query's pre-bracket — re-streaming 256 MB
            // to re-learn what we just measured would only heat the box
            val (ok, last) = waitCalm(capMsOpt.get)
            // on expiry too: the sentinel must report the wait's LAST
            // reading (how hot was the box when we gave up), not the
            // stale pre-suite bracket (review round-16)
            if (last > 0) bwPrev = last
            if (ok) stealPrev = stealNow()
            ok
          }
        if (!waitedOk) { expired = true; unmeasured += name; None }
        else {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch {
            case e: Throwable =>
              errors(name) = e.getClass.getSimpleName
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          val t = (System.nanoTime() - t0) / 1e9
          // Per-query isolation: drop the finished query's
          // localCheckpoint blocks NOW instead of waiting for a major
          // GC to let the ContextCleaner find them. Left to accumulate,
          // the suite's checkpoint blocks (dedup/graph/curation index
          // builds) fill the unified memory manager's storage side and
          // squeeze execution memory for every LATER query — measured
          // at sf1 (round 10): queries late in the map order ran
          // 10-46x their solo time (sim_nn_cross_label 163 s vs 7 s
          // alone) purely from this pressure. Safe across queries:
          // nothing shares live DataFrames between registry entries
          // (cross-query caches hold driver values and on-disk index
          // paths only). Untimed — harness hygiene, not query work.
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          val bwPost = calibBw()
          val stealPost = stealNow()
          val stealDelta =
            if (stealPrev >= 0 && stealPost >= 0) stealPost - stealPrev
            else -1L
          brackets(name) = (ms1(bwPrev), ms1(bwPost), stealDelta)
          bwPrev = bwPost
          stealPrev = stealPost
          // credit the measured query's runtime back to the wait
          // budget — the deadline bounds waiting, not measuring
          if (waitEach) waitDeadline += (t * 1e9).toLong
          Some(name -> t)
        }
      }
    }
    if (results.isEmpty && expired) {
      // wait-each ran out of deadline before measuring anything — same
      // outcome as the initial wait timing out, same sentinel artifact
      writeSentinel(capMsOpt.get, bwPrev)
      spark.stop(); return
    }
    val calibEnd = calib()
    val calibIoEnd = calibIo()
    val calibBwEnd = calibBw()
    val statEnd = procStatCpu()
    // Fraction of the guest's CPU-time the hypervisor stole DURING the
    // suite. The bracket probes can't see roaming host contention (two
    // same-day sf1 runs read ~840 s with lf ≤ 1.03 and DISJOINT sets of
    // 5-23× inflated queries — the steal window moved); /proc/stat's
    // steal counter is cumulative, so its delta over the run is a
    // direct, zero-cost measure of exactly that. -1 = unreadable.
    val stealPct = (statStart, statEnd) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0).toDouble
      case _ => -1.0
    }
    val quietCalib = sys.env.get("SPARK_GRAFT_QUIET_CALIB")
      .flatMap(_.toDoubleOption).filter(_ > 0).getOrElse(0.30)
    val Seq(detailLine, totalLine) = summaryLines(results, sfDir,
      calibStart, calibEnd, calibIoStart, calibIoEnd, quietCalib,
      errors.toMap, stealPct, calibBwStart, calibBwEnd,
      brackets.toMap, unmeasured.toSeq)
    println(detailLine)
    println(totalLine)
    // Stdout tail-captures have dropped the (long) per-query line before;
    // persist the full run locally so per-query timings always survive.
    // Path defaults to the invoking directory — never a hard-coded tree.
    // SUBSET runs (SPARK_GRAFT_ONLY) persist to BENCH_SUBSET.json: they
    // are measurement notes by definition (benchcheck's stale-reference
    // scan rejects them). FULL runs persist to BENCH_LAST_ATTEMPT.json
    // (both gitignored): BENCH_LAST.json is the COMMITTED QUALIFIED
    // record and only quietrun's benchcheck-qualified copy path (or a
    // deliberate SPARK_GRAFT_BENCH_OUT) may write it — every unqualified
    // driver full run used to land there and dirty the working tree
    // (round-9/10/11 recurring hygiene leak; the displacement guard
    // caught it downstream instead of it never happening).
    val defaultOut =
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_LAST_ATTEMPT.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)),
      detailLine + "\n" + totalLine + "\n")
    // a read-only tree must not fail the run; fatal errors still propagate
    catch { case scala.util.control.NonFatal(_) => }
    spark.stop()
  }

  /** (steal, total) cumulative jiffies from /proc/stat's aggregate cpu
    * line — fields: user nice system idle iowait irq softirq steal ….
    * None when the file is absent/malformed (non-Linux, restricted). */
  private def procStatCpu(): Option[(Long, Long)] =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu "))
      line.flatMap { l =>
        val f = l.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
        if (f.length >= 8) Some((f(7), f.sum)) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The two artifact lines, as a pure function so BenchFormatSpec can
    * pin the contract that killed the round-6 record: per-query detail
    * FIRST, then the headline total LAST and COMPACT (scalars only — a
    * bounded size regardless of query count). The driver tail-captures
    * stdout, so an over-long final line is truncated from the FRONT,
    * destroying the `"metric":"total"` head (BENCH_r06.json parsed
    * null).
    *
    * RAW total is the headline number; value_normalized is advisory
    * context only. Contention estimate = min(calibStart, calibEnd): a
    * correction applies ONLY when BOTH probes came back inflated (if
    * either probe saw a quiet box, the suite is presumed to have had
    * quiet stretches and raw stands). This deliberately under-corrects —
    * a one-sided average was observed (round 5) to scale a 62.8 s suite
    * below every quiet-box measurement off a single inflated start
    * probe. `quietCalib` is the settled 32-thread reference (BENCH.md),
    * overridable via SPARK_GRAFT_QUIET_CALIB for other thread counts
    * (parsed defensively — malformed/non-positive falls back to 0.30).
    * A failed probe (-1) leaves the raw total untouched.
    *
    * Failure honesty: each thrown query appears in the detail line's
    * `errors` map (name → exception class) and the total line carries
    * `nfailed`. `tools/benchcheck.py` refuses to qualify any record
    * with nfailed > 0 — a broken query can never pose as a fast one. */
  private[graft] def summaryLines(
      results: Map[String, Double], sfDir: String,
      calibStart: Double, calibEnd: Double,
      calibIoStart: Double, calibIoEnd: Double,
      quietCalib: Double,
      errors: Map[String, String] = Map.empty,
      stealPct: Double = -1.0,
      calibBwStart: Double = -1.0,
      calibBwEnd: Double = -1.0,
      brackets: Map[String, (Double, Double, Long)] = Map.empty,
      unmeasured: Seq[String] = Nil): Seq[String] = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sorted
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // per-query brackets live in the DETAIL line (it already grows with
    // the query count); the total line stays compact+bounded
    val brs = brackets.toSeq.sortBy(_._1)
      .map { case (k, (b0, b1, st)) => s"\"" + k + s"""":[$b0,$b1,$st]""" }
      .mkString("{", ",", "}")
    val unm = unmeasured.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val probes = Seq(calibStart, calibEnd).filter(_ > 0)
    val loadFactor =
      if (probes.size == 2) probes.min / quietCalib else 1.0
    val normalized = if (loadFactor > 1.0) total / loadFactor else total
    // Self-assessed qualification stamp (round-16 verdict #5): the
    // judge must never be able to misread a bandwidth-poisoned
    // artifact as a measurement. Mirrors benchcheck's bracket gates
    // (lf <= 1.05, steal <= 2%, both bw brackets under the 40 ms
    // absolute cap, zero thrown/unmeasured queries); the reference
    // scan benchcheck additionally runs can only REVOKE a true here,
    // never grant one — so false is authoritative, true is necessary
    // but not sufficient (benchcheck's --stamp writes the full verdict)
    val selfQ = errors.isEmpty && unmeasured.isEmpty &&
      loadFactor <= 1.05 && stealPct <= 0.02 &&
      calibBwStart > 0 && calibBwStart <= 0.040 &&
      calibBwEnd > 0 && calibBwEnd <= 0.040
    val waitTail =
      if (unmeasured.nonEmpty) s""","wait_expired":true,"unmeasured_n":${unmeasured.size}"""
      else ""
    Seq(
      s"""{"metric":"queries","queries":$qs,"errors":$errs,"bw_brackets":$brs,"unmeasured":$unm,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","nqueries":${results.size},"nfailed":${errors.size},"value_normalized":$normalized,"load_factor":$loadFactor,"calib_start":$calibStart,"calib_end":$calibEnd,"calib_io_start":$calibIoStart,"calib_io_end":$calibIoEnd,"steal_pct":$stealPct,"calib_bw_start":$calibBwStart,"calib_bw_end":$calibBwEnd,"self_qualified":$selfQ$waitTail}""")
  }
}
