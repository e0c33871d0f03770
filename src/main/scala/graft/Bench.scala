package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * A warm-up action first absorbs JVM/codegen startup so measurements
  * reflect steady-state query cost; queries run in sorted name order.
  * The run adjudicates its own machine: a fixed canary re-timed between
  * query blocks detects noisy-neighbor contention, triggers re-runs of
  * the affected block, and reports a `canary` object in the JSON so a
  * slow total can be told apart from a slow engine (see below).
  *
  * STANDING DUAL-SCALE GATE (VERDICT r10 #6, promoted to sf10 by r11 #6):
  * at sf0.1 roughly half the suite sits on the ~50 ms scheduling floor, so
  * plan-shape regressions hide — and the r11 history showed sf1-clean
  * defects surfacing only at the SECOND decade (the weighted-load
  * arraycopy bug, the accel threshold cliff). When the primary dir is the
  * per-round sf0.1, the bench also materializes /tmp/sf10 (ScaleUp, 100×
  * key-offset replicas — ~7 min and ~2.1 GB, built once per machine,
  * reused) and runs the full adjudicated suite there too; the sf10
  * numbers ride in the same JSON line under "sf10". Opt out with
  * SPARK_GRAFT_SF10=off (quick local iterations at sf0.01 never trigger
  * it: the gate keys on the primary dir's basename). */
object Bench {

  /** One suite run's evidence: per-query seconds, per-query failure
    * reasons, and the canary record the suite-level gate adjudicates on. */
  private final case class SuiteRun(results: Seq[(String, Double)],
      failures: Seq[(String, String)], baseline: Double,
      samples: Seq[Double], requeried: Int, contended: Boolean) {
    def maxRatio: Double =
      if (baseline > 0 && samples.nonEmpty) samples.max / baseline else -1.0
  }

  /** One timed run of `fn` at `sfDir`: build the frame and count it. */
  private[graft] def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    (System.nanoTime() - t0) / 1e9
  }

  // Per-QUERY litter control (the between-block sweep in runSuite is not
  // enough): a single localCheckpoint-heavy query can park tens of GB
  // in the BlockManager per RUN, and with min-of-2 runs the SECOND run
  // plus every later query in the block then measures storage-memory
  // eviction and spill churn, not its plan (observed in the first sf10
  // audit: the q70-79 block read 5-20x its standalone times purely from
  // in-block litter — q76 215 s benched vs 10 s standalone in a fresh
  // JVM). Unpersisting after each timed run keeps every measurement a
  // measurement of the QUERY. Driver-side caches (graph accel,
  // over-threshold verdicts) are not RDDs and survive, as they should.
  // clearCache() first: unpersisting a cached query's blocks WITHOUT
  // dropping its CacheManager entry leaves a stale entry whose storage
  // level was cleared — the query's next run then recomputes through the
  // dead InMemoryRelation WITHOUT re-caching (every consumer recomputes
  // the subtree), so min-of-2 never sees a warm run. Dropping the entry
  // makes the second run re-persist properly while blocks still never
  // carry between timed runs.
  private[graft] def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One adjudicated suite run at `sfDir`: every query timed min-of-2 in
    * sorted order, canary-checked per 10-query block, contended blocks
    * re-run min-merged. */
  private def runSuite(spark: SparkSession, sfDir: String): SuiteRun = {
    import org.apache.spark.sql.functions.{col, sum}
    // SELF-ADJUDICATION: min-of-2 absorbs spikes, not SUSTAINED machine
    // contention (a co-tenant pinning the cores for minutes inflates both
    // runs). A fixed canary — one scan+shuffle+aggregate whose steady-state
    // cost is known from a 3-run baseline — is re-timed after every block
    // of 10 queries; a canary beyond 1.5× baseline means the wall clock,
    // not the plans, moved, so the block's queries get one more run
    // (min-merged) and the episode is recorded in the JSON. A run whose
    // canary NEVER settled back under the bar is stamped "contended": its
    // totals are evidence of a busy machine, not of the code.
    // If the canary table itself is unreadable, adjudication is disabled
    // (baseline 0 → ratio checks never fire) rather than killing the bench;
    // the queries still run and report their own named failures.
    val canaryLi =
      try Some(graft.sources.Tables.lineitem(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] canary disabled: ${e.getMessage}")
        None
      }
    def timeCanaryOnce(): Double = canaryLi match {
      case None => 0.0
      case Some(li) =>
        val t0 = System.nanoTime()
        li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).collect()
        (System.nanoTime() - t0) / 1e9
    }
    // Min of two consecutive runs — the discriminator between SELF-inflicted
    // first-run cost and real contention. After ~100 distinct queries the
    // 100-entry codegen cache has evicted the canary's generated class, so
    // a single timing pays janino recompilation + re-analysis (~0.2 s —
    // observed as a monotonic 0.15→0.38 s canary drift in the sf1 audit
    // that min-of-2 eliminates); only the second, warm run measures the
    // machine. External contention inflates BOTH runs and still trips.
    def timeCanary(): Double = math.min(timeCanaryOnce(), timeCanaryOnce())
    val canaryBaseline = (1 to 3).map(_ => timeCanary()).min
    // Bar calibration (measured, r11): mid-suite canaries sit at ~2× the
    // IDLE baseline in back-to-back fresh-JVM and aged-JVM runs whose suite
    // totals agree to 0.5% — i.e. ~2× elevation is the suite's own residual
    // activity (ContextCleaner, page-cache churn), not contention, and it
    // does not bias the min-of-2 query timings. 1.5× caused 70 spurious
    // requeries in the dual-scale run; 2× keeps retries for real spikes.
    val Bar = 2.0

    // Two timed runs per query, report the min (steady-state cost; the
    // machine shows ±30% noisy-neighbor variance on single runs). A failed
    // query reports -1 (never a plausible timing) and the failure goes to
    // stderr — a crashing query must not masquerade as a fast one.
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val canarySamples = scala.collection.mutable.ArrayBuffer[Double]()
    var requeried = 0
    var sustained = false
    def timeOnceClean(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = { val t = timeOnce(spark, sfDir, fn); sweep(spark); t }
    SparkEntry.queries.toSeq.sortBy(_._1).grouped(10).foreach { block =>
      block.foreach { case (name, fn) =>
        times(name) =
          try (1 to 2).map(_ => timeOnceClean(fn)).min
          catch { case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
            // stderr is routinely lost in driver log capture — carry the
            // first line of the reason into the JSON so a -1.0 entry is
            // self-describing in the artifact.
            failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.toSeq.headOption.getOrElse(e.getClass.getName)
            -1.0
          }
      }
      // Belt-and-braces sweep before the canary (per-query sweeps above
      // already keep the BlockManager clean between timed runs).
      sweep(spark)
      var canary = timeCanary(); canarySamples += canary
      if (canary > Bar * canaryBaseline) {
        // the machine was busy during this block — its timings are
        // suspect, so give each query one more (min-merged) run
        System.err.println(f"[bench] canary ${canary}%.3fs vs baseline " +
          f"$canaryBaseline%.3fs — re-running ${block.size} queries")
        block.foreach { case (name, fn) =>
          if (times(name) >= 0)
            try times(name) = math.min(times(name), timeOnceClean(fn))
            catch { case _: Throwable => () }
        }
        requeried += block.size
        canary = timeCanary(); canarySamples += canary
      }
    }
    // "contended" is decided idle-vs-idle: canaries after the last block,
    // once the suite's own residual activity has drained. Mid-suite
    // samples compare an ACTIVE machine against an idle baseline and so
    // over-flag (see Bar above); and the FIRST post-suite canary can still
    // catch the last block's aftermath (observed: 3.4 s right after the
    // q98 IVF build, settling immediately after), so the machine gets up
    // to 3 spaced measurements to come back under the bar. Sustained
    // external interference keeps ALL of them elevated and trips this;
    // mid-suite spikes were already handled by per-block min-merged
    // retries.
    sustained = canaryBaseline > 0 && !(1 to 3).exists { i =>
      val c = timeCanary(); canarySamples += c
      val settled = c <= Bar * canaryBaseline
      if (!settled && i < 3) Thread.sleep(2000)
      settled
    }
    SuiteRun(times.toSeq, failures.toSeq, canaryBaseline,
      canarySamples.toSeq, requeried, sustained)
  }

  /** How far a suite's worst canary sample may sit above the idle baseline
    * before the WHOLE run is deemed noise-contaminated. Mid-suite samples
    * routinely touch ~2x on a healthy run (the suite's own residual
    * activity — see Bar above); 2.5x only trips on genuine external
    * contention. */
  private val SuiteBar = 2.5

  /** The suite-level canary gate (r12 lesson: the per-block min-merged
    * retries bound a SPIKE, but a sustained noise window inflates every
    * retry too, and the r12 artifact published a max_ratio-9.4 sf10 block
    * as the round's official number; the r16 artifact went out
    * `sf10_valid:false` because ONE re-run still landed inside the same
    * ambient-load window). A run whose canary evidence blows past
    * [[SuiteBar]] — or never settles ("contended") — is re-run until it
    * validates, up to SPARK_GRAFT_SUITE_RETRIES times (default 3) with a
    * GROWING settle pause between attempts, so the official artifact
    * stops depending on the driver's scheduling luck. Per-query times
    * min-merge across ALL attempts (every attempt measured the same
    * plans; noise only ever inflates), and the CLEANEST attempt's canary
    * evidence is what the artifact carries. `"valid"` in the canary JSON
    * says whether the published block is trustworthy for round-over-round
    * comparison; `"suite_reruns"` how many full re-runs the gate spent. */
  private def adjudicatedSuite(spark: SparkSession, sfDir: String)
      : (Seq[(String, Double)], Seq[(String, String)], String) = {
    // Robust parse: a malformed env value must not kill an hours-long
    // bench after the fact — fall back to the default, floor at 0.
    val maxReruns = sys.env.get("SPARK_GRAFT_SUITE_RETRIES")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .map(math.max(_, 0)).getOrElse(3)
    def isClean(r: SuiteRun): Boolean =
      r.maxRatio >= 0 && r.maxRatio <= SuiteBar && !r.contended
    var runs: List[SuiteRun] = List(runSuite(spark, sfDir))
    var reruns = 0
    while (!isClean(runs.head) && reruns < maxReruns) {
      System.err.println(f"[bench] suite canary blew out at $sfDir " +
        f"(max_ratio ${runs.head.maxRatio}%.2f, contended=" +
        f"${runs.head.contended}) - re-running (${reruns + 1}/$maxReruns)")
      // Drop the prior pass's litter before rerunning IN THE SAME JVM:
      // localCheckpoint queries (q86-style) leave their blocks persisted
      // for the JVM's life, so a second full pass starts with the heap
      // half-full and OOMs where a fresh run wouldn't (observed: GCLocker
      // retry death in the sf10 rerun at -Xmx8g). Store/cache state is
      // on disk; dropping persisted RDDs only trades recompute, and the
      // rerun re-times every query from its own scans anyway.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(5000L * (reruns + 1)) // let the ambient window pass
      runs = runSuite(spark, sfDir) :: runs
      reruns += 1
    }
    // min-merge per query across every attempt; a query that failed in
    // one attempt takes any attempt's successful timing (max picks the
    // non-negative of two; fold keeps the best seen)
    val names = runs.last.results.map(_._1) // first attempt's sorted order
    val byName: Map[String, Seq[Double]] =
      runs.flatMap(_.results).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val mergedTimes = names.map { k =>
      val ts = byName.getOrElse(k, Seq(-1.0))
      val ok = ts.filter(_ >= 0)
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val stillFailed = mergedTimes.filter(_._2 < 0).map(_._1).toSet
    val mergedFailures = runs.flatMap(_.failures)
      .filter { case (k, _) => stillFailed.contains(k) }.distinct
    val best = {
      val clean = runs.filter(isClean)
      val pick =
        if (clean.nonEmpty) clean.minBy(_.maxRatio)
        else runs.minBy(r =>
          if (r.maxRatio < 0) Double.MaxValue else r.maxRatio)
      pick.copy(results = mergedTimes, failures = mergedFailures)
    }
    val valid = isClean(best)
    if (!valid) System.err.println(f"[bench] $sfDir block is NOT canary-clean " +
      f"after $reruns re-runs (max_ratio ${best.maxRatio}%.2f) - marked " +
      "\"valid\":false")
    // CROSS-ROUND ANCHOR (VERDICT r19 #4/#6): the canary baseline is
    // measured INSIDE the run, so a window where the whole machine is
    // uniformly 1.4× slower self-normalizes and still stamps valid:true —
    // r18↔r19 round-over-round totals were destroyed by exactly that.
    // Persist the best (lowest) baseline this machine has ever measured
    // for this data directory (next to the sf10 fixture, surviving
    // rounds) and report it as `baseline_ref` plus `window_factor` =
    // this run's baseline / ref, so the driver and the next judge can
    // normalize a uniformly slow window. Additions-only: no timed region
    // or existing field changes.
    val (baselineRef, windowFactor) =
      if (best.baseline <= 0) (0.0, 1.0)
      else {
        val refPath = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          s"graft_canary_ref_${new java.io.File(sfDir).getName}.txt")
        val stored = try {
          val s = new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8")
          Some(s.trim.toDouble).filter(v => v > 0 && !v.isNaN && !v.isInfinite)
        } catch { case _: Throwable => None }
        val ref = stored.fold(best.baseline)(math.min(_, best.baseline))
        if (!stored.contains(ref))
          try java.nio.file.Files.write(refPath, f"$ref%.6f".getBytes("UTF-8"))
          catch { case e: Throwable =>
            System.err.println(s"[bench] canary ref not persisted: ${e.getMessage}") }
        (ref, best.baseline / ref)
      }
    val canaryJson = {
      val samples = best.samples.map(s => f"$s%.4f").mkString("[", ",", "]")
      s"""{"baseline_sec":${f"${best.baseline}%.4f"},"samples":$samples,""" +
        s""""max_ratio":${f"${best.maxRatio}%.3f"},"requeried":${best.requeried},""" +
        s""""contended":${best.contended},"suite_reruns":$reruns,""" +
        s""""baseline_ref":${f"$baselineRef%.4f"},""" +
        s""""window_factor":${f"$windowFactor%.3f"},"valid":$valid}"""
    }
    (best.results, best.failures, canaryJson)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** {"total":…,"queries":{…},"failed":{…},"canary":{…},"build_sec":{…}}
    * for one suite. `build_sec` reports each store-twin's ONE-TIME layout
    * build cost (graft.queries.FixtureBuild — persisted next to the
    * fixture, so pre-built fixtures still report what their original
    * build paid): the twin-vs-raw comparisons amortize this buy-in, and
    * the artifact now carries it visibly instead of implicitly. */
  private def suiteJson(results: Seq[(String, Double)],
                        failures: Seq[(String, String)],
                        canaryJson: String,
                        buildSec: Map[String, Double]): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A failed query must never IMPROVE the headline number: any -1
    // sentinel invalidates the total (per-query values stay reported).
    val total =
      if (results.isEmpty) 0.0
      else if (results.exists(_._2 < 0)) -1.0
      else results.map(_._2).sum
    val failedJson = failures
      .map { case (k, v) => jsonStr(k) + ":" + jsonStr(v.take(300)) }
      .mkString("{", ",", "}")
    val buildJson = buildSec.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonStr(k) + ":" + // Locale.ROOT: a comma
        // decimal from a non-POSIX default locale is invalid JSON
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString("{", ",", "}")
    s""""total":$total,"queries":$qs,"failed":$failedJson,""" +
      s""""canary":$canaryJson,"build_sec":$buildJson"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session config single-sourced in GraftSession (VERDICT r19 #8): the
    // exact plans the oracle verifies are the plans this bench times.
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: JVM + codegen + parquet footer reads, not part of any timing.
    // Best-effort: a broken table must surface as that QUERY's named failure
    // in the JSON, not kill the whole bench during warm-up.
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.sources.Tables.names.foreach { n =>
      try n match {
        case "events" => graft.sources.Tables.events(spark, sfDir).limit(1).count()
        case _        => graft.sources.Tables.load(spark, sfDir, n).limit(1).count()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up skipped $n: ${e.getMessage}")
      }
    }
    // One real scan+join+aggregate JITs the vectorized parquet reader, hash
    // aggregate, and shuffle paths the queries share — without it the
    // alphabetically-first queries pay multi-hundred-ms of one-time JIT that
    // no steady-state run would see.
    try {
      import org.apache.spark.sql.functions._
      val li = graft.sources.Tables.lineitem(spark, sfDir)
      val o = graft.sources.Tables.orders(spark, sfDir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")), count(lit(1)))
        .collect()
      // Also JIT the object-hash-aggregate (udaf), regex, and HOF paths —
      // first use otherwise pays seconds of janino/JIT inside a timing.
      val topk = graft.functions.TopK.topK(2)
      spark.range(100)
        // regex input derives from id (non-foldable) and toks IS consumed
        // below — a literal input would constant-fold and column-prune the
        // whole regex path away, warming nothing.
        .selectExpr("cast(id % 5 as string) g", "cast(id as double) v",
          "cast(id as string) k",
          "aggregate(sequence(1, 3), 0L, (a, x) -> a + x) s",
          "regexp_extract_all(concat('a b c ', cast(id as string)), '[a-z0-9]+', 0) toks")
        .groupBy(col("g"))
        .agg(topk(col("v"), col("k")), max(col("s")), max(size(col("toks"))))
        .collect()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up join skipped: ${e.getMessage}")
    }

    val (results, failures, canaryJson) = adjudicatedSuite(spark, sfDir)
    // store-twin layout build costs, captured per scale (the tracked
    // fixture roots are per-testdata-fingerprint, so the sf10 block
    // re-captures its own after its suite runs)
    val buildSec = graft.queries.FixtureBuild.report()

    // Standing sf10 gate: only when the primary run IS the per-round sf0.1
    // (local sf0.01 iterations stay fast), not opted out, and the suite is
    // non-trivial. Build-if-missing, then the same adjudicated run at sf10
    // — the second decade, where sf1-clean scale defects actually surface.
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/sf10")
    val wantSf10 = sys.env.getOrElse("SPARK_GRAFT_SF10", "on") != "off" &&
      new java.io.File(sfDir).getName == "sf0.1" && results.nonEmpty
    var sf10Summary: Option[(Double, Boolean)] = None
    val sf10Json: Option[String] =
      if (!wantSf10) None
      else try {
        val marker = new java.io.File(sf10Dir, "embeddings.parquet/_SUCCESS")
        if (!marker.isFile) {
          System.err.println(s"[bench] building $sf10Dir (100x $sfDir)")
          graft.tools.ScaleUp.build(spark, sfDir, sf10Dir, 100)
        }
        // The sf0.1 block's localCheckpoint litter must not shrink the
        // sf10 block's heap (same-JVM lesson as the rerun cleanup above).
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        spark.sharedState.cacheManager.clearCache()
        val (r1, f1, c1) = adjudicatedSuite(spark, sf10Dir)
        sf10Summary = Some((
          if (r1.isEmpty) 0.0
          else if (r1.exists(_._2 < 0)) -1.0
          else r1.map(_._2).sum,
          c1.contains("\"valid\":true")))
        Some(s"""{${suiteJson(r1, f1, c1,
          graft.queries.FixtureBuild.report())},"dir":${jsonStr(sf10Dir)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf10 gate failed: ${e.getMessage}")
        Some(s"""{"error":${jsonStr(
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))}}""")
      }

    val total = // mirror of suiteJson's total, needed for the headline field
      if (results.isEmpty) 0.0
      else if (results.exists(_._2 < 0)) -1.0
      else results.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        suiteJson(results, failures, canaryJson, buildSec) +
        sf10Json.map(j => s""","sf10":$j""").getOrElse("") +
        s""","sf":"$sfDir"}"""
    println(json)
    // Also write the JSON to a file: the stdout line has twice been lost to
    // tail truncation in captured logs (BENCH_r04/r05) — the file is the
    // durable copy of the same one-line contract.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json"))
    try java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
    // LAST stdout line, after spark.stop() so nothing follows it: a COMPACT
    // (<500 B) summary that survives the driver's tail-capture whole. Three
    // rounds running, BENCH_rN.json held a mid-line fragment of the big JSON
    // above (its per-query maps push it past the capture window) with
    // `parsed` empty, so round-over-round totals were compared across
    // scales. The detailed per-query line still prints above and lands in
    // bench_out.json; this line is the parse contract.
    val sf01Valid = canaryJson.contains("\"valid\":true")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":${jsonStr(
        new java.io.File(sfDir).getName)},"queries_n":${results.size},""" +
        s""""failed_n":${failures.size},"sf01_total":$total,""" +
        s""""sf01_valid":$sf01Valid,"sf10_total":${
          sf10Summary.map(_._1).getOrElse(-1.0)},"sf10_valid":${
          sf10Summary.exists(_._2)},"detail":${jsonStr(out.toString)}}""")
  }
}
