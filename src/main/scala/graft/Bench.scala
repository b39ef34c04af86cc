package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json).
  *
  * Queries are forced through the `noop` sink rather than `.count()` so
  * Catalyst cannot prune away projections/windows and under-report work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-bench", 32)

    // JIT/codegen + parquet-footer warmup on a NAMED cheap query (a Map's
    // .head is hash-order — it could warm an expensive or irrelevant one)
    // so the first measured query isn't charged for JVM warmup.
    try SparkEntry.queries("q01_agg_pricing")(spark, sfDir).write
      .mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    // Install the build-once/serve-many disk artifacts (ANN index, dedup
    // signature lake, media fixture) BEFORE the measured passes: pass 1
    // of the first query touching each store must time serving, not the
    // store's one-time build (r7: q73 5.26 s pass 1 vs 1.25 s pass 2).
    // prewarm outcome travels INSIDE the JSON line (r8's attribution
    // hole: pass-1 inflation on store-touching queries was
    // indistinguishable from a prewarm failure, because the failure
    // printed to stderr far outside the driver's 2000-char tail window)
    val w0 = System.nanoTime()
    val prewarmOk =
      try { graft.operators.Prewarm.artifacts(spark, sfDir); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] prewarm failed (continuing): ${e.getMessage}")
        false
      }
    val prewarmS = (System.nanoTime() - w0) / 1e9
    System.err.println(
      s"[bench] artifact prewarm: ${(prewarmS * 10).round / 10.0} s (ok=$prewarmOk)")

    // Locale-pinned float rendering: the f-interpolator uses the JVM
    // default locale, and a comma-decimal locale would emit invalid JSON
    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

    // Each query is sampled TWICE and reports the min SUCCESSFUL time:
    // this VM shows 5-100× per-run swings from co-tenant CPU steal, and a
    // single burst during a single-shot run manufactures phantom
    // regressions. The two samples are taken in INTERLEAVED PASSES — run
    // every query once, then every query again — not back-to-back: a
    // steal burst that outlasts one query (round 3 saw multi-minute
    // bursts poison BOTH back-to-back runs, e.g. q41 [87.4, 5.0] with
    // the burst ending mid-pair) then lands on *different* queries in
    // each pass, so the per-query min survives it. Per-pass wall-clocks
    // stream to stderr so a burst is visible as one slow pass.
    // A failed run's time-to-failure is NOT a sample — a 0.3 s crash
    // must not be recorded as a 0.3 s query; queries with any failed run
    // are listed in "errors".
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val passes = (1 to 2).map { pass =>
      val p0 = System.nanoTime()
      val times = ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name (pass $pass) failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // per-query .cache()s (dedup/ANN subplans) are scoped to the
        // query; drop them so the next sample repeats the full work and
        // later queries aren't squeezed by a growing pool
        spark.catalog.clearCache()
        name -> (dt, ok)
      }.toMap
      val passWall = (System.nanoTime() - p0) / 1e9
      System.err.println(s"[bench] pass $pass wall-clock: ${num(passWall, 1)} s")
      (times, passWall)
    }
    val results = ordered.map { case (name, _) =>
      val runs = passes.map(_._1(name))
      val good = runs.collect { case (t, true) => t }
      // all-failed: report the wall time spent, flagged via "errors"
      val best = if (good.nonEmpty) good.min else runs.map(_._1).max
      System.err.println(
        s"[bench] ${name.padTo(32, ' ')} ${num(best, 2)} s  (passes: ${runs.map { case (t, ok) =>
          num(t, 2) + (if (ok) "" else "!") }.mkString(", ")})")
      (name, best, runs)
    }
    // The JSON line must FIT the driver's bounded tail capture: measured
    // at 2000 chars, with the build tool's trailer eating ~80 from the
    // end — BENCH_r06's full-name 3-dp line (2036 chars) came back
    // "parsed": null with its HEAD cut off. So the line carries the
    // qNN prefix keys (unique; the driver-contract example itself uses
    // short keys), 2-dp mins, and the sf basename — ~700 chars, safe
    // margin. Everything verbose (full names, both pass times, pass
    // wall-clocks) streams to stderr above.
    def short(k: String) = k.takeWhile(_ != '_')  // q45, q100 — no 3-digit collision
    val qs = results.map { case (k, best, _) => "\"" + short(k) + "\":" + num(best, 2) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, runs) if runs.exists(!_._2) => "\"" + short(k) + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val sfName = new java.io.File(sfDir).getName
    // stop FIRST so Spark's shutdown chatter cannot land between the JSON
    // line and the driver's bounded tail capture; the line is the last
    // thing this process writes to stdout. A stop() failure (executor
    // shutdown races, listener teardown) must not eat the line — every
    // query already completed, so swallow and report on stderr.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed (ignored): ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","queries":$qs,"errors":$errs,"prewarm_s":${num(prewarmS, 1)},"prewarm_ok":$prewarmOk,"sf":"$sfName"}""")
    System.out.flush()
  }
}
