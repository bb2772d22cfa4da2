package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.TypeStores

/** Per-statement SQL serving latency, per route — the always-on
  * micro-bench behind `serving_ms` in the bench JSON. The r10 serving
  * regression (every statement re-reading store blobs to key the graph
  * cache) was only visible because the gate suite happens to include
  * `ann_sql_*` batch plans; this measures the per-statement warm-cache
  * number directly so serving-path regressions are tracked
  * round-over-round.
  *
  * Five routes, mirroring the reference's 4-type dispatch plus the
  * IVF-routed type-0 serving arm: t0_hash (walk every hash bucket),
  * t0_ivf (walk the statement's nprobe centroid-nearest lists),
  * t1_label, t2_range, t3_label_range. Statements go through the full
  * planner path (strategy match → AnnTopKExec → collect): the t0
  * routes in trusted mode, the t1-t3 routes in guard mode on an
  * unchanged base (no fetch); each route's first statement warms the
  * cache and asserts the plan actually routed (a silent fallback to the
  * exact scan would otherwise be reported as a serving number). Reuses
  * the ann_sql_* gate queries' tagged /tmp stores, building any that
  * are missing. */
object ServingBench {

  /** Per-route serving stats. `medianMs`/`maxMs` are over the TIMED
    * (second) cycle; `coldMedianMs` is over the first, cache-warming
    * cycle — the cold/warm spread is the store-load cost the serving
    * cache exists to eliminate. `maxMs` is named for what it IS at the
    * default 7-8 timed statements: the max, not a tail percentile — a
    * p99-named field over single-digit samples invites downstream
    * round-over-round triage to treat one GC-pause outlier as a
    * distribution statistic. `timedMs` carries the full per-statement
    * STATEMENT-ORDERED timed cycle (not sorted), so a max spike is
    * attributable: always the same position across rounds → that
    * statement's work (e.g. IVF centroid/list skew); first position →
    * warm-up; random position → GC/scheduler noise. `hits`/`misses`
    * are ServingCache counter deltas across the timed cycle: a warm
    * route must show misses = 0; any other value names the r11-style
    * latency discord (eviction thrash / budget starvation) that a bare
    * median cannot. */
  final case class RouteStat(medianMs: Double, maxMs: Double,
      coldMedianMs: Double, hits: Long, misses: Long, timedMs: Seq[Double])

  /** The whole serving_diag block: routes plus the cache state that
    * explains them (effective budget, residency, entry count). */
  final case class Report(routes: Seq[(String, RouteStat)],
      cacheBudgetBytes: Long, cacheUsedBytes: Long, cacheEntries: Int)

  /** Back-compatible medians-only view (the bench JSON's serving_ms). */
  def run(s: SparkSession, dir: String, stmts: Int = 8): Seq[(String, Double)] =
    runDiag(s, dir, stmts).routes.map { case (n, st) => (n, st.medianMs) }

  def runDiag(s: SparkSession, dir: String, stmts: Int = 8): Report = {
    import graft.functions.{VectorFunctions => VF}
    val embBase = s"$dir/embeddings.parquet"
    val emb = s.read.parquet(embBase)

    // SAME stores as the ann_sql_* gate queries, built through the one
    // shared definition of their parameters (StorePaths) — whichever of
    // the bench or the gates runs first materializes for both, so a
    // second copy of the build blocks here could silently drift
    val ivfPath = StorePaths.ensureIvfStore(s, dir)
    val root = StorePaths.ensureRouteStores(s, dir)
    val hashPath = TypeStores.hashPath(root)
    val basePath = s"$root/base"
    val b = s.read.parquet(basePath)

    // deterministic statement parameters: the first stmts+1 queries of
    // each type from the gate queries' own derived batch (head warms +
    // plan-asserts, tail is timed)
    val q = graft.SparkEntry.vecQueries(s, dir)
    def qsOf(t: Int): Array[(Long, Double, Double, Array[Float])] =
      q.filter(col("qtype") === t).orderBy("qid").limit(stmts + 1)
        .select("v", "l", "r", "qvec").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Float](3).toArray))

    // median warm ms/statement. The label/range routes' statements each
    // target a DIFFERENT bucket, so warming only the head statement
    // would leave every timed statement paying its bucket's one-time
    // cold blob load — the reported number would track disk-cache luck,
    // not the serving path (the r11 bench drift showed exactly that
    // jitter). Cycle 1 runs the WHOLE statement set untimed (every
    // bucket's graphs land in the serving cache); cycle 2 is timed
    // per-statement and the MEDIAN is reported, so one GC pause cannot
    // move the round-over-round signal. The head statement additionally
    // asserts the routed plan.
    def msPerStmt(params: Array[(Long, Double, Double, Array[Float])],
        mustContain: String)(
        mk: ((Long, Double, Double, Array[Float])) => DataFrame): RouteStat = {
      require(params.length >= 2, s"serving bench: too few statements (${params.length})")
      val warm = mk(params.head)
      val plan = warm.queryExecution.executedPlan.toString
      require(plan.contains("AnnTopK") && plan.contains(mustContain),
        s"serving bench: statement did not route (wanted $mustContain):\n$plan")
      warm.collect()
      val timed = params.tail
      def cycle(): Array[Double] = timed.map { p =>
        val t0 = System.nanoTime()
        mk(p).collect()
        (System.nanoTime() - t0) / 1e6
      }
      val cold = cycle().sorted // warms every statement's buckets
      val h0 = graft.index.ServingCache.hits.get()
      val m0 = graft.index.ServingCache.misses.get()
      val raw = cycle() // statement order preserved for attribution
      val ms = raw.sorted
      RouteStat(
        medianMs = ms(ms.length / 2),
        maxMs = ms.last,
        coldMedianMs = cold(cold.length / 2),
        hits = graft.index.ServingCache.hits.get() - h0,
        misses = graft.index.ServingCache.misses.get() - m0,
        timedMs = raw.toSeq)
    }

    val results = Seq.newBuilder[(String, RouteStat)]
    val qe = qsOf(0)

    def t0Stmt(p: (Long, Double, Double, Array[Float])): DataFrame =
      s.read.parquet(embBase)
        .orderBy(VF.l2Sq(col("embedding"), typedLit(p._4)), col("vec_id"))
        .select("vec_id").limit(10)

    // finally-unregister: a failed plan assert must not leak
    // /tmp-store registrations into the shared bench session
    try {
      // trusted on embBase: its stores were built from renamed-column
      // copies of it, whose records can never match its listing
      org.apache.spark.sql.graft.AnnCatalog.register(embBase, hashPath,
        idCol = "vec_id", vecCol = "embedding", ef = 200, trusted = true)
      results += "t0_hash" -> msPerStmt(qe, "index=")(t0Stmt)

      org.apache.spark.sql.graft.AnnCatalog.register(embBase, hashPath,
        idCol = "vec_id", vecCol = "embedding", ef = 400, trusted = true,
        ivfIndex = Some(ivfPath), nprobe = 4)
      results += "t0_ivf" -> msPerStmt(qe, "ivf=")(t0Stmt)

      // guard mode: the type stores were built from a bare read of
      // basePath, so an unchanged base is served with no fetch
      org.apache.spark.sql.graft.AnnCatalog.register(basePath, hashPath,
        idCol = "id", vecCol = "vec", ef = 200,
        labelIndex = Some(("label", TypeStores.labelPath(root))),
        rangeIndex = Some(("ts", TypeStores.decilePath(root))))
      def ranked(filtered: DataFrame, qv: Array[Float]): DataFrame =
        filtered.orderBy(VF.l2Sq(col("vec"), typedLit(qv)), col("id"))
          .select("id").limit(10)
      results += "t1_label" -> msPerStmt(qsOf(1), "bucket=") { p =>
        ranked(b.filter(col("label") === p._1), p._4)
      }
      results += "t2_range" -> msPerStmt(qsOf(2), "ts=[") { p =>
        ranked(b.filter(col("ts") >= p._2 && col("ts") <= p._3), p._4)
      }
      results += "t3_label_range" -> msPerStmt(qsOf(3), "bucket=") { p =>
        ranked(b.filter(col("label") === p._1 && col("ts") >= p._2 && col("ts") <= p._3), p._4)
      }
    } finally {
      org.apache.spark.sql.graft.AnnCatalog.unregister(embBase)
      org.apache.spark.sql.graft.AnnCatalog.unregister(basePath)
    }
    Report(results.result(), graft.index.ServingCache.maxBytes,
      graft.index.ServingCache.usedBytes, graft.index.ServingCache.entryCount)
  }
}
