package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

object Bench {

  // ms precision is plenty for second-scale timings and keeps the
  // stdout line short enough for the driver's bounded capture window.
  // Locale pinned to ROOT: a comma-decimal default locale would emit
  // invalid JSON.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def queriesJson(rs: Iterable[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** The stdout JSON line, at most `budget` chars where it can be:
    * `wrap(queries, extra)` over every query if that fits, else over the
    * slowest N plus truncation markers in `extra`.
    *
    * The driver captures only a bounded TAIL of stdout (measured: the
    * recorded tails are exactly 2000 chars), and sbt appends its own
    * "[success] Total time" line (~75 chars) after ours — with the full
    * 111-query map (~2600 chars of entries alone) the line head gets
    * clipped and the driver records parsed:null (observed rounds 4-7),
    * so printing the complete map is NOT possible. The markers carry
    * the max seconds among the OMITTED queries — so a query that leaves
    * the window can be read as "faster than that bound", not dropped
    * (the r14 PERF misread) — and, when any omitted query failed, how
    * many did (`omitted_failed`), so a truncated failure is never read
    * as a fast success. The map may shrink to empty: an over-budget
    * line loses its head and parses as nothing. */
  private[graft] def stdoutLine(results: Seq[(String, Double)], budget: Int)(
      wrap: (String, String) => String): String = {
    val full = wrap(queriesJson(results), "")
    if (full.length <= budget) full
    else {
      // failed queries carry the -1 marker — keep them FIRST under
      // truncation (a plain slowest-first sort would clip the crash
      // signal before any healthy timing)
      val bySlowest = results.sortBy { case (_, v) =>
        (if (v < 0) Double.NegativeInfinity else -v)
      }
      var n = bySlowest.length
      var line = full
      while (line.length > budget && n > 0) {
        n -= 1
        val omitted = bySlowest.drop(n).map(_._2)
        val failed = omitted.count(_ < 0)
        line = wrap(queriesJson(bySlowest.take(n)),
          s""","n_queries":${results.size},"queries_truncated_to_slowest":$n""" +
            s""","omitted_max_sec":${fmt(omitted.foldLeft(0.0)(math.max))}""" +
            (if (failed > 0) s""","omitted_failed":$failed""" else "") +
            ""","full":"bench_results.json"""")
      }
      line
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/IO paths so the first timed query isn't charged
    // for session initialization
    spark.range(100000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    // Dev knobs (unset in driver runs): SPARK_GRAFT_QUERIES=a,b,c limits
    // the suite; SPARK_GRAFT_REPS=n times each query n times, keeping min.
    // Default is 3 reps: single-rep timings on a shared JVM proved too
    // noisy to compare across rounds (GC/JIT/page-cache interference);
    // min-of-3 is stable to ~10%.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty value = full suite, same as Verify
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.view.filterKeys(s).toMap)
    // One-time index-store builds are timed separately (the contest
    // scores build and search phases separately too): first touch of
    // the stored-index queries builds /tmp/graft_* tables. The builds
    // run up front and are reported as index_build_sec. Each builder
    // query then runs once outside both timed windows, so neither its
    // first-run costs nor run-to-run query noise lands in the build
    // figure, and the per-query numbers below are warm.
    val storeBuilders = Seq("knn_stored", "ann_sql_topk", "ann_sql_routed", "ann_delta_knn")
      .filter(selected.contains)
    val tB0 = System.nanoTime()
    // overlap the builders' DISJOINT store builds (the route pack the
    // first three share, the delta store) before running the queries
    // serially (r15, guide §2.6 — the serial pre-pass left the 32-core
    // session mostly idle; ensure blocks only, so catalog registrations
    // keep their serial order). Work unchanged: the queries' own ensure
    // blocks see committed stores and skip.
    try graft.queries.StorePaths.prebuildStores(spark, sfDir, storeBuilders.toSet)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] parallel prebuild failed (queries will build serially, untimed): ${e.getClass.getName}: ${e.getMessage}")
    }
    val buildSec = (System.nanoTime() - tB0) / 1e9
    storeBuilders.foreach { name =>
      try selected(name)(spark, sfDir).count()
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] index build failed for $name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val results = selected.map { case (name, fn) =>
      // Each rep builds the query fresh, so each rep persist()s NEW copies
      // of any miner intermediates — release BETWEEN reps (blocking, so
      // the executor-side free lands before the next timed run) or three
      // cache copies stay resident and pressure the queries that follow
      // (the r06 dedup_simhash/knn_ip/selectivity_route "regressions").
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case NonFatal(e) =>
              System.err.println(s"[bench] query failed: $name: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.CacheRegistry.releaseAll(blocking = true)
        // Flatten cross-query interference: a single shared JVM means
        // query N's timing inherits query N-1's heap garbage and the
        // ContextCleaner backlog (weak-ref driven, so it only drains on
        // GC). Collecting OUTSIDE the timed window costs untimed wall
        // but stops heavy queries from inflating their neighbors —
        // isolated vs full-suite runs differed up to 2.5× without this.
        System.gc()
        // A failed rep returns fast; letting it into the min would report
        // a crashing query as a speedup. Min over successful reps only;
        // zero successes → -1 marker in the JSON.
        if (ok) Some(dt) else None
      }
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    // Per-statement serving latency per route (warm cache), so serving
    // regressions are tracked round-over-round — the r10 read-on-hit
    // tax was only visible because the batch suite happens to include
    // ann_sql_*. Skippable via SPARK_GRAFT_QUERIES (a narrowed dev run
    // shouldn't pay the store builds). runDiag carries the cache
    // hit/miss deltas, budget, and p99 beside each median — the r11
    // t1_label 448-vs-59 ms discord was undiagnosable from a bare
    // median with no view of the cache state behind it.
    val serving: Option[graft.queries.ServingBench.Report] =
      if (only.isDefined) None
      else try Some(graft.queries.ServingBench.runDiag(spark, sfDir))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] serving bench failed: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    // Fixed-work machine canary: two rounds of judge-vs-builder bench
    // discord (r10 +11%, r11 +56%) were both bisected BY HAND to
    // environment (re-running old trees on today's machine). The canary
    // does the control run inside every bench: a deterministic
    // single-thread CPU loop and a pinned 32-task parquet scan whose
    // work never changes across rounds — query-time movement the canary
    // moves WITH is machine, movement it doesn't is code. Skipped on
    // SPARK_GRAFT_QUERIES-narrowed dev runs for the same reason the
    // serving bench is: a single-query iteration shouldn't pay the
    // pinned-table generation + min-of-3 loops, and nobody compares a
    // narrowed run's canary.
    val canary: Seq[(String, Double)] =
      if (only.isDefined) Seq.empty
      else try Canary.run(spark)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] canary failed: ${e.getClass.getName}: ${e.getMessage}")
          Seq.empty
      }
    // failed queries carry the -1.0 sentinel in `queries` (visible to
    // the driver) but must NOT be summed — each crash would otherwise
    // SUBTRACT a second from the headline total, reporting a broken
    // suite as faster than a healthy one
    val total = results.values.filter(_ >= 0.0).sum
    val servingMsJson = serving.fold("") { rep =>
      val medians = rep.routes.map { case (n, st) => (n, st.medianMs) }
      s""","serving_ms":${queriesJson(medians)}"""
    }
    // serving_diag goes ONLY to bench_results.json: at ~900 chars it was
    // the single biggest consumer of the driver's 2000-char stdout
    // capture window, and the r14 PERF comparison misclassified four
    // big WINS as dropped_from_bench because the per-query map had been
    // truncated to the slowest 27 to make room. The medians stay on the
    // line (round-over-round serving tracking); the cache/hit detail is
    // diagnostic depth that belongs in the committed full file.
    val servingDiagJson = serving.fold("") { rep =>
      // max_ms, not "p99": over 7-8 timed statements the nearest-rank
      // p99 IS the max — naming it that stops consumers treating one
      // outlier as a tail statistic (r12 advisory). "ms" is the full
      // statement-ORDERED timed cycle, so a recurring max at a fixed
      // position names per-statement work (skew), not noise.
      def fmt1(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      val diag = rep.routes.map { case (n, st) =>
        "\"" + n + "\":{\"max_ms\":" + fmt(st.maxMs) +
          ",\"cold\":" + fmt(st.coldMedianMs) +
          ",\"hits\":" + st.hits + ",\"misses\":" + st.misses +
          ",\"ms\":" + st.timedMs.map(fmt1).mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
      s""","serving_diag":{"cache_budget_mb":${rep.cacheBudgetBytes >> 20}""" +
        s""","cache_used_mb":${rep.cacheUsedBytes >> 20}""" +
        s""","entries":${rep.cacheEntries},"routes":$diag}"""
    }
    val canaryJson =
      if (canary.isEmpty) ""
      else s""","canary":${queriesJson(canary)}"""
    def wrap(qs: String, extra: String = "", diag: String = ""): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","index_build_sec":${fmt(buildSec)}$servingMsJson$diag$canaryJson$extra,"queries":$qs,"sf":"$sfDir"}"""
    val fullJson = wrap(queriesJson(results), diag = servingDiagJson)
    // the complete JSON (with serving_diag) always goes to
    // bench_results.json; stdout gets the budgeted line
    val stdoutJson = stdoutLine(results.toSeq, 1870)(wrap(_, _))
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_results.json"),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // stop BEFORE the stdout line: a shutdown-time WARN printed after
    // our JSON would push its head out of the driver's bounded tail.
    // A stop() that throws must not cost the line itself.
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(stdoutJson)
  }
}
