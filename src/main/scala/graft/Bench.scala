package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"runs":R,"sf":...}.
  *
  * TIME-BUDGET-AWARE (r15): the r14 graded bench was killed at the
  * driver's timeout with nothing emitted (rc=124) — 201 queries x 5
  * runs x a degraded box exceeded the window. The bench now degrades
  * gracefully instead of dying silently:
  *
  *   - SPARK_GRAFT_TIME_BUDGET (default 720 s) bounds main() wall time.
  *     Median polish is the first thing sacrificed: per-query run count
  *     follows elapsed/budget — under 50% of budget every query gets
  *     the full SPARK_GRAFT_RUNS (default 5) runs, under 75% it drops
  *     to 3, after that 1. One run per query is the floor — every query
  *     always produces a number.
  *   - The sf0.001 warm-up pass (classloading + codegen) warms one
  *     representative per query FAMILY first (q_knn_*, q_bm25_*, ...
  *     share generated-code shapes), then keeps warming the rest only
  *     while warm-up elapsed < 12% of budget. With runs >= 3 the median
  *     discounts a cold first run anyway, so a skipped warm-up costs
  *     nothing; with runs == 1 the board is already in
  *     budget-emergency mode where correctness of the artifact's
  *     EXISTENCE outranks per-query polish.
  *   - Partial results stream: after EVERY query the full JSON line
  *     (with "partial":true and a "measured" count) is rewritten to
  *     SPARK_GRAFT_BENCH_OUT, and a one-line breadcrumb goes to stdout
  *     — a run killed mid-board still leaves a parseable artifact and a
  *     recoverable tail.
  *
  * HOST HEALTH (r15): two rounds were spent adjudicating "degraded
  * window" claims from cross-round comparison alone. The JSON line now
  * carries the evidence in-band: 1-minute loadavg, MemAvailable, a
  * fixed-work single-thread calibration loop (xorshift64, constant
  * iteration count) timed at start and end, and a PARALLEL calibration
  * (every core runs a quarter of the loop concurrently) that catches
  * the co-tenant core-starvation mode the single-thread loop misses —
  * one core is always free, so calib stays ~0.3 s while 32-wide stages
  * run 1.5-2x slow. Healthy box: calib ~0.25-0.4 s, calib_par ~0.1 s;
  * calib_par at 3x+ its healthy value marks a degraded window even
  * when calib is green. BASELINE.md documents the interpretation.
  *
  * SPARK_GRAFT_RUNS (default 5): each query is timed that many times
  * (subject to the budget schedule above) and the MEDIAN reported —
  * the box is load-noisy (the same code has benched 33-44 s across
  * rounds), so the artifact carries its own noise correction.
  *
  * COLD RUNS (r16): spark.catalog.clearCache() runs before every timed
  * run, so the median is a median of COLD runs — ops that persist
  * intermediates for intra-query reuse no longer get runs 2..N served
  * from the plan-keyed CacheManager entries of run 1 (the r15 verdict's
  * gaming finding: q_ppjoin's 3-run median reflected cross-run cache
  * reuse, not the optimization). Numbers before/after this change are
  * NOT comparable for persist-bearing ops; restating the r15 claims
  * against cold numbers is open under ROADMAP item 1.
  */
object Bench {
  /** Fixed-work single-thread calibration: ~0.3 s on a healthy core.
    * Work is constant (no Date/seed variance), so the TIME measures the
    * box. Returns seconds.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // fold x into the timing guard so the loop cannot be eliminated
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // never true; defeats DCE
    dt
  }

  /** Fixed-work PARALLEL calibration: every core runs a quarter of the
    * single-thread loop concurrently. On a healthy box this takes about
    * a quarter of the single-thread time (all cores genuinely
    * available); when a co-tenant is stealing cores it degrades in
    * proportion to the starvation — the failure mode the single-thread
    * calibration provably misses (r15: a window ran the board 1.6x slow
    * with calib_start at a healthy 0.29 s, because one core was always
    * free while 32-wide stages starved). Returns wall seconds.
    */
  private def calibratePar(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        while (i < 37500000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        if (x == 42L) System.err.println("")
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def readLoadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def readMemAvailGb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toDouble / 1024 / 1024
      }.getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Family key for warm-up dedup: first two underscore tokens, so
    * q_knn_ivf_trained and q_knn_brute share "q_knn" (and one codegen
    * warm covers the family's generated-code shapes).
    */
  private def family(name: String): String =
    name.split("_").take(2).mkString("_")

  def main(args: Array[String]): Unit = {
    val tMain0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - tMain0) / 1e9

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val baseRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt)
    val budget = math.max(60.0,
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "720").toDouble)

    val load0 = readLoadAvg()
    val mem0 = readMemAvailGb()
    val calib0 = calibrate()
    val calibP0 = calibratePar(cpus)

    val spark = Sessions.local(cpus, "graft-bench")

    // SPARK_GRAFT_ONLY=q_a,q_b limits the run to a subset (local iteration).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // Warm-up at the smallest scale: one representative per family
    // first (covers shared codegen shapes), then the rest while under
    // the warm-up budget slice. Same toRdd path as the measured loop,
    // so the generated code the warm-up compiles is the code the
    // measurement runs.
    val warmDir = "/root/testdata/sf0.001"
    val warmBudget = 0.12 * budget
    val (reps, rest) = {
      val seen = scala.collection.mutable.Set.empty[String]
      names.partition(n => seen.add(family(n)))
    }
    var warmed = 0
    (reps ++ rest).foreach { n =>
      if (elapsed() < warmBudget) {
        try {
          SparkEntry.queries(n)(spark, warmDir).queryExecution.toRdd.count()
          warmed += 1
        } catch { case _: Throwable => }
      }
    }
    System.err.println(
      f"[bench] warm-up: $warmed/${names.size} queries in ${elapsed()}%.1f s" +
        f" (budget slice ${warmBudget}%.0f s)")

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // Per-core-count artifact alongside the main one: the driver's
    // low-core scaling run previously OVERWROTE the 32-core per-query
    // data (r15 lost its close-gate numbers to the 8-core rerun). The
    // derived name keys the artifact on the core count it measured.
    val outPathCpus = {
      val dot = outPath.lastIndexOf('.')
      if (dot > 0) outPath.substring(0, dot) + s".${cpus}c" + outPath.substring(dot)
      else outPath + s".${cpus}c"
    }

    def jsonLine(results: Seq[(String, Double, Int)], partial: Boolean,
                 calibEnd: Double, calibParEnd: Double = -1.0): String = {
      val qs = results.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
      val rs = results.map { case (k, _, r) => "\"" + k + s"""\":$r""" }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val host =
        f"""{"load1":$load0%.2f,"mem_avail_gb":$mem0%.1f,"calib_start_sec":$calib0%.3f,"calib_end_sec":$calibEnd%.3f,"calib_par_start_sec":$calibP0%.3f,"calib_par_end_sec":$calibParEnd%.3f}"""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs_per_query":$rs,"runs":$baseRuns,"budget_sec":$budget%.0f,"elapsed_sec":${elapsed()}%.1f,"measured":${results.size},"of":${names.size},"partial":$partial,"host":$host,"sf":"$sfDir"}"""
    }

    def writeOut(line: String): Unit =
      Seq(outPath, outPathCpus).foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          line + "\n")
        catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
        }
      }

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Int)]
    names.foreach { name =>
      // Budget schedule: full medians while comfortably inside the
      // budget, degrade to 3 then 1 runs as the window closes. The
      // floor is 1 run — every query emits a number even over budget.
      val frac = elapsed() / budget
      val runs =
        if (frac < 0.50) baseRuns
        else if (frac < 0.75) math.min(baseRuns, 3)
        else 1
      // evaluate through toRdd.count(), NOT Dataset.count(): an
      // Aggregate(count(1)) consumer lets Catalyst column-prune every
      // projection out of map-only queries, so the bench would time a
      // bare row-count scan instead of the operator. toRdd's consumer is
      // the full output row, so every expression really executes (and no
      // external-row conversion is paid).
      val times = (0 until runs).map { _ =>
        // EVERY timed run is COLD with respect to Spark's CacheManager:
        // ops that persist() intermediates for legitimate intra-query
        // multi-consumer reuse would otherwise have runs 2..N served
        // from the plan-keyed cache left by run 1 (and even run 1 of a
        // query can hit a subplan cached by an earlier query on the
        // board) — the r15 verdict called the resulting medians
        // warm-cache-inflated. Intra-run persists are untouched: the
        // cache is cleared BEFORE the clock starts, so each run builds
        // and uses its own persists, which is the optimization being
        // measured. (localCheckpoint RDDs are unpersisted by their
        // owning loops and are not CacheManager entries.)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        } catch {
          // a failing query must surface as the -1 sentinel, never as a
          // success-shaped near-zero timing that rewards breakage
          case _: Throwable => -1.0
        }
      }
      // ANY failed run fails the query — a median must not mask breakage
      val t =
        if (times.exists(_ < 0)) -1.0
        else {
          val s = times.sorted
          if (runs % 2 == 1) s(runs / 2)
          else (s(runs / 2 - 1) + s(runs / 2)) / 2.0
        }
      results += ((name, t, runs))
      // Stream partials: breadcrumb to stdout (recoverable from a
      // killed run's tail; never matches the {"metric" line shape) and
      // a full partial artifact to disk.
      println(f"[bench] $name $t%.3f s (runs=$runs, ${results.size}/${names.size}, elapsed ${elapsed()}%.0f s)")
      writeOut(jsonLine(results.toSeq, partial = true, calibEnd = -1.0))
    }

    val calib1 = calibrate()
    val calibP1 = calibratePar(cpus)
    val line = jsonLine(results.toSeq, partial = false, calibEnd = calib1,
      calibParEnd = calibP1)
    println(line)
    // ALSO write the line to a file: the driver captures stdout through a
    // pipe that has truncated the tail of long lines (BENCH_r09.json came
    // back unparseable) — a file write cannot be cut mid-line.
    writeOut(line)
    spark.stop()
    // Echo the line once more AFTER spark.stop(): the driver has parsed
    // no bench stdout in 15 rounds despite the line being complete in
    // the captured tail — whichever line a last-line-shaped grep lands
    // on, it should find the JSON.
    println(line)
  }
}
