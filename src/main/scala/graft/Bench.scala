package graft

/** Benchmark entry point: times every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line for the driver.
  * Failures are recorded per query (name -> -1 with an "errors" map) instead
  * of being folded into a fake wall time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Echoed on BOTH emitted JSON lines and in the detail file name: the
    // driver runs the bench at two core counts, and r18's artifacts were
    // unattributable — BENCH_detail_last.json was silently overwritten by
    // whichever run finished last, and the final line never said which
    // core count produced it (VERDICT r18 #1).
    val cpus = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt).getOrElse(-1)
    val spark = Sessions.local("graft-bench")
    // Warm-up actions so parquet-reader JIT + filesystem caches don't bill
    // the first measured query of each table family.
    Seq("lineitem", "orders", "documents", "embeddings", "events")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    // SPARK_GRAFT_BENCH_ONLY=q56,q74,... runs a subset (exact name or
    // qNN-prefix match) — the knob the targeted scale-up smokes use; unset
    // runs the full inventory (what the driver does).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val runCounts = scala.collection.mutable.LinkedHashMap[String, Int]()
    // Every individual run time is kept (not just the min): the [min,max]
    // spread per query is the load-noise evidence the record needs — BENCH_r07
    // showed q00 at 1.70 s under transient box load while the same code
    // measured 0.82 s in isolation, and a bare min can't show its own noise
    // band. The spread goes on the detail line (all queries) and the final
    // line (headline trio).
    val allRuns = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[Double]]()
    def loadavg1: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Hardware-independent clock canary (BASELINE.md §box-speed: "every
    // engine-vs-baseline ratio must be computed against a same-window
    // C-binary canary run"): build the reference binary in this process's
    // scratch root (never touching /root/reference) and time its whole
    // workload, min of 2, at the start and end of the bench. The r13 driver
    // artifact's load-contaminated window manufactured 15 phantom ×1.5
    // regressions; with canary_s in the JSON the window's speed is
    // machine-checkable.
    //
    // The build lands in the per-(user, pid) Scratch root — never a fixed
    // shared path: a fixed path both collides across concurrent/cross-user
    // runs AND silently times whatever stale or foreign `index` binary it
    // finds there. A per-process dir makes every timed binary one THIS
    // process just compiled from the current reference sources (lazy val =
    // once per JVM), which is also the staleness fix: there is no reusable
    // artifact to go stale. SPARK_GRAFT_CANARY=0 opts out entirely for
    // harnesses that don't want the bench executing the reference's
    // Makefile at all (the canary_s fields then read -1, and the artifact
    // says so instead of lying).
    lazy val canaryBin: Option[java.io.File] =
      try {
        if (sys.env.get("SPARK_GRAFT_CANARY").contains("0")) None
        else {
          val scratch = new java.io.File(
            graft.sources.Scratch.dir("canary"))
          val bin = new java.io.File(scratch, "index")
          if (!bin.canExecute) {
            scratch.mkdirs()
            import scala.sys.process._
            Seq("cp", "-r", "/root/reference/.", scratch.getAbsolutePath).!
            Process(Seq("make"), scratch).!(ProcessLogger(_ => ()))
          }
          if (bin.canExecute) Some(bin) else None
        }
      } catch { case _: Throwable => None }
    // guarded like the build above: a canary that dies mid-bench (tmp
    // reaper, concurrent rebuild) must cost the artifact a -1 field, not
    // the whole measured run
    def canarySecs(): Double = try canaryBin.map { bin =>
      import scala.sys.process._
      val sink = ProcessLogger(_ => ())
      def once(): Double = {
        val t0 = System.nanoTime()
        Process(Seq("./index", "-p", "24", "-c", "10"), bin.getParentFile)
          .!(sink)
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }.getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
    val canaryStart = canarySecs()
    // One timed run. Every sample is kept (spread = noise evidence).
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      allRuns.getOrElseUpdate(
        name, scala.collection.mutable.ArrayBuffer.empty[Double]) += t
      t
    }
    // INTERLEAVED passes of BACK-TO-BACK mini-settles, min across passes.
    // Two failure modes have to be beaten at once:
    //  - load windows: the r8 settle loop ran each query's up-to-6 samples
    //    back-to-back, so one sustained load window pinned every sample of
    //    whichever queries it overlapped — BENCH_r08 recorded eight
    //    untouched queries at 1.5-4.6x their same-code isolated values
    //    (q42 1.71 s vs 0.46 s). Full passes over the inventory separate a
    //    query's sample WINDOWS by minutes of wall clock, longer than any
    //    load window observed in r3/r7/r8 — a spike inflates one window,
    //    and the min survives in another.
    //  - cache eviction: a pure one-run-per-pass interleave (measured,
    //    this round) reads UNIFORMLY ~1.4x over back-to-back values,
    //    because 90 intervening queries evict the generated-class/JIT
    //    caches between any two samples of the same query — every sample
    //    re-pays the cold fixed cost that a resident engine would not.
    //    So each pass runs a short back-to-back settle (2-3 runs, rerun
    //    while improving >15%): run 1 of a pass warms codegen, the rest
    //    measure the hot engine inside that window.
    def settle(name: String, maxRuns: Int): Double = {
      var best = once(name)
      var runs = 1
      var improving = true
      while (runs < maxRuns && improving) {
        val r = once(name)
        improving = r < best * 0.85
        if (r < best) best = r
        runs += 1
      }
      best
    }
    def runPass(over: Seq[String], maxRuns: Int): Unit =
      over.foreach { name =>
        if (!errors.contains(name))
          try settle(name, maxRuns)
          catch { case e: Throwable =>
            if (!allRuns.get(name).exists(_.nonEmpty))
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
          }
      }
    runPass(names, maxRuns = 3) // pass 1 pays codegen + queues C2 JIT
    runPass(names, maxRuns = 2) // second window, minutes later
    def best(n: String): Double =
      allRuns.get(n).filter(_.nonEmpty).map(_.min).getOrElse(-1.0)
    // Targeted extra passes (still interleaved among their members) for
    // queries whose reading is not yet trustworthy:
    //  - still descending: the best sample IS the latest and beats the
    //    runner-up by >15% — C2/codegen may not have settled;
    //  - outlier: min still > max(1.5x median, 1 s) — either genuinely
    //    expensive (extra samples cost little vs its own runtime) or every
    //    sample so far was unlucky, and a third separated window decides;
    //  - the judged headline trio, unconditionally: its final samples land
    //    at the very end of the bench, maximally decorrelated from start-up
    //    load, replacing the r7 headline-guard re-settle.
    val headlineNames = Set("q00_reference_index", "q01_inverted_index", "q02_word_count")
    val ExtraPasses = 2
    for (_ <- 1 to ExtraPasses) {
      val mins = names.map(best).filter(_ >= 0).sorted
      val med = if (mins.isEmpty) 0.0 else mins(mins.size / 2)
      val floor = math.max(1.5 * med, 1.0)
      val needy = names.filter { n =>
        !errors.contains(n) && allRuns.get(n).exists(_.nonEmpty) && {
          val rs = allRuns(n)
          val sorted = rs.sorted
          val descending = rs.size >= 2 && rs.last == sorted.head &&
            sorted.head < sorted(1) * 0.85
          descending || best(n) > floor || headlineNames(n)
        }
      }
      runPass(needy, maxRuns = 2)
    }
    names.foreach(n => runCounts(n) = allRuns.get(n).map(_.size).getOrElse(0))
    val results = names.map(n => n -> best(n))
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // final JSON line out of that tail; r4's line (full-precision doubles +
    // an inline runs map, 65 queries) outgrew the window and the round lost
    // its perf numbers (BENCH_r04 parsed:null). Keep the final line compact:
    // 2-decimal seconds (bench noise is ±10%, centiseconds are already below
    // it) and push runs/errors detail to a separate earlier line.
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else "%.2f".formatLocal(java.util.Locale.ROOT, v)
        .reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    // Queries key by their SHORT id — the qNN names every doc (SURVEY,
    // README, verdicts) already uses: minimal unique underscore-prefix, so
    // "q17_json_scalars" -> "q17_json" (q17_array exists) but
    // "q50_pack_chunks" -> "q50". The full-name map stays on the detail
    // line (runs); this keeps the final line ~900 chars at 77 queries
    // instead of ~1920 pressing the 2000-char tail window.
    def seg(n: String, k: Int) = n.split('_').take(k).mkString("_")
    val shortId: Map[String, String] = names.map { n =>
      var k = 1
      while (names.count(m => seg(m, k) == seg(n, k)) > 1) k += 1
      n -> seg(n, k)
    }.toMap
    // The final line's queries map is CAPPED: at 164 queries the full map
    // alone is ~2300 chars, and round 17's artifact lost its head —
    // canary_s/q00_x_canary/floor_s, the driver's gate fields — to the
    // 2000-char stdout tail (VERDICT r17 missing #4). The gate reads the
    // final line; the full per-query map lives on the detail line and in
    // bench/BENCH_detail_last.json. Kept here: the headline trio (the
    // reference-comparable workload) + the slowest entries (the rows a
    // regression scan reads first), up to 24 total.
    val qsKeep: Set[String] = (names.filter(headlineNames) ++
      results.sortBy(-_._2).map(_._1)).distinct.take(24).toSet
    val qs = results.collect { case (k, v) if qsKeep(k) =>
        "\"" + shortId(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rs = names.map(k => "\"" + k + "\":" + runCounts.getOrElse(k, 0))
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // headline = the reference-comparable workload (inverted-index pipeline:
    // corpus index + doc index + word count); "total" spans the FULL
    // 40+-query inventory, which the reference cannot run at all.
    // -1 when ANY headline query errored — a partial sum would look faster
    val headlineTimes = results.collect { case (k, v) if headlineNames(k) => v }
    val headline =
      if (headlineTimes.exists(_ < 0)) -1.0 else headlineTimes.sum
    val ok = results.collect { case (_, v) if v >= 0 => v }.toSeq.sorted
    val median =
      if (ok.isEmpty) 0.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
    // Detail line FIRST (per-query run counts, [min,max] spread over every
    // recorded run, full error messages): it may scroll out of the driver's
    // tail window; the compact line below must not.
    val spreadAll = names.flatMap(n => allRuns.get(n).map(r =>
        "\"" + shortId(n) + "\":[" + fmt(r.min) + "," + fmt(r.max) + "]"))
      .mkString("{", ",", "}")
    val detailLine =
      s"""{"cpus":$cpus,"runs":$rs,"spread":$spreadAll,"errors":$es}"""
    println(s"bench-detail: $detailLine")
    // The detail line also lands ON DISK (best-effort): the driver keeps
    // only a ~2000-char stdout tail, so the full per-query [min,max] spread
    // would otherwise scroll out — and the spread is how a judge tells
    // wobble from regression mechanically (VERDICT r16 #3: q133/q103/q101b/
    // q119/q90 moved 30-60% between clean windows with untouched code).
    // Written per core count (BENCH_detail_c<N>.json) so a 32-core and an
    // 8-core run in the same checkout never clobber each other, plus the
    // legacy BENCH_detail_last.json name existing tooling reads.
    try {
      val d = new java.io.File("bench"); d.mkdirs()
      Seq(s"BENCH_detail_c$cpus.json", "BENCH_detail_last.json").foreach { fn =>
        val fw = new java.io.FileWriter(new java.io.File(d, fn))
        try fw.write(detailLine + "\n") finally fw.close()
      }
    } catch { case _: Throwable => () }
    val sfName = new java.io.File(sfDir).getName // basename: tail chars are scarce
    // "headline" = reference-comparable index pipeline (q00+q01+q02);
    // "median" = per-query median over the full inventory. Short keys on
    // purpose — the tail window is the budget.
    // hl_spread = [min,max] over every recorded run of each headline query;
    // load = 1-min loadavg at emit time. Together they are the load-noise
    // evidence: a wide spread or high load says the min was defended against
    // a contended box, a tight spread says the number is clean.
    val hlSpread = names.filter(headlineNames)
      .flatMap(n => allRuns.get(n).map(r =>
        "\"" + shortId(n) + "\":[" + fmt(r.min) + "," + fmt(r.max) + "]"))
      .mkString("{", ",", "}")
    // canary = [start-of-bench, end-of-bench] min-of-2 C-binary timings:
    // ~0.08 s on a full-speed box, ×3-5 in a loaded/throttled window —
    // the ratio context BASELINE.md's rule requires, now in the artifact
    val canaryEnd = canarySecs()
    // Tier-A ratio, computed BOTH ways so the gate reads off the artifact
    // (BASELINE.md §Tier-A floor decomposition):
    //  - q00_x_canary: q00 best vs the faster same-window canary reading —
    //    the BASELINE.md §box-speed rule's ratio;
    //  - q00_x_burst: q00 best vs the 0.085 s fresh-boot burst constant
    //    BASELINE.md records for the C binary.
    // floor_s = the cheapest query's best time — the session's measured
    // per-action floor (plan + schedule + 1-2 stages), the denominator's
    // context: a q00 within ~1.2x of floor_s has no Spark-side fat left.
    val q00best = best("q00_reference_index")
    val canaryMin = Seq(canaryStart, canaryEnd).filter(_ > 0) match {
      case s if s.nonEmpty => s.min; case _ => -1.0
    }
    def ratio(num: Double, den: Double): Double =
      if (num > 0 && den > 0) num / den else -1.0
    val floorS = if (ok.nonEmpty) ok.head else -1.0
    // wobble = the queries whose recorded samples this run spanned > 1.5x
    // (and whose min is big enough to matter): their reported min sits in a
    // noisy band, so a cross-round delta inside that band is scheduling
    // wobble, not a regression. Compact on purpose (the tail budget);
    // the full per-query spread is in bench/BENCH_detail_last.json.
    val wobble = names.filter { n =>
      allRuns.get(n).exists(r =>
        r.nonEmpty && r.min >= 0.3 && r.max > 1.5 * r.min)
    }.sortBy(n => -(allRuns(n).max / allRuns(n).min))
      .take(8) // cap: worst offenders only, the tail budget is scarce
      .map(n => "\"" + shortId(n) + "\":[" +
        fmt(allRuns(n).min) + "," + fmt(allRuns(n).max) + "]")
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","headline":${fmt(headline)},"median":${fmt(median)},"hl_spread":$hlSpread,"wobble":$wobble,"load":${fmt(loadavg1)},"canary_s":[${fmt(canaryStart)},${fmt(canaryEnd)}],"q00_x_canary":${fmt(ratio(q00best, canaryMin))},"q00_x_burst":${fmt(ratio(q00best, 0.085))},"floor_s":${fmt(floorS)},"cpus":$cpus,"n_q":${names.size},"queries":$qs,"n_err":${errors.size},"sf":"$sfName"}"""
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — " +
        "nearing the driver's 2000-char stdout tail; shorten before adding queries")
    println(line)
    spark.stop()
  }
}
