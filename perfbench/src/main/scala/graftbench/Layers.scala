package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.HnswIndex

/** Per-layer metrics of a traced run. Every workload prints the same
  * names (the benchmark's contract); each workload maps its own calls
  * onto the shared layers:
  *
  *   - setup layers (ingest, builds, tuners): the median over the
  *     traced setup repetitions;
  *   - `route_ms_per_query` and `search.tN_ms_per_query`: the median
  *     over traced passes or statements of the named span, per query;
  *   - `spark.*_per_query`: the listener's counts under every traced
  *     serve span, per served query;
  *   - micro-passes on one stored graph and the machine canary, timed
  *     directly. */
object Layers {

  /** How a workload's serve phase maps onto the shared layers:
    * `serveSpan` roots one pass or statement; `route` and `search(t)`
    * name a span and the number of queries one such span answers. */
  final case class Serve(serveSpan: String, served: Long, route: (String, Long),
      search: Seq[(String, Long)], cache: CacheCounters, overheadMsPerQuery: Double)

  def collect(ctx: Ctx, serve: Serve, storeRatio: Double, nprobe: Int,
      microStore: String, microQueries: DataFrame): Seq[(String, Double, String)] = {
    import ctx.tr
    val micro = tr.span("index.hnsw.micro")(microPass(ctx, microStore, microQueries))
    val canary = tr.span("machine.canary")(graft.Canary.run(ctx.spark).toMap)
    org.apache.spark.graftbench.ListenerBusAccess.waitUntilEmpty(ctx.spark.sparkContext)
    val jobs = tr.ledger.snapshot()
    val stats = SpanStats.of(tr.recorded, jobs)
    val wl = tr.workload
    def named(n: String) = stats.filter(_.span.name == s"$wl.$n")
    def inLoop(n: String) = named(n).filter(s => s.span.startNs >= tr.loopNs._1 &&
      s.span.endNs <= tr.loopNs._2)
    def medianS(n: String): Double = Stats.median(named(n).map(_.span.wallMs)) / 1000
    def medianMsPer(span: (String, Long)): Double =
      Stats.median(inLoop(span._1).map(_.span.wallMs)) / span._2
    /** Per setup repetition, the summed wall of spans under a prefix. */
    def groupSumS(prefix: String): Double = Stats.median(
      stats.filter(_.span.name.startsWith(s"$wl.$prefix"))
        .groupBy(_.span.group).values.map(_.map(_.span.wallMs).sum / 1000).toSeq)
    val serveStats = inLoop(serve.serveSpan)
    def perQuery(f: SpanStats => Double): Double = serveStats.map(f).sum / serve.served
    val lookups = serve.cache.hits + serve.cache.misses
    Seq(
      ("sources.read_base_s", medianS("sources.read_base"), "s"),
      ("sources.read_queries_s", medianS("sources.read_queries"), "s"),
      ("sources.write_knn_s", medianS("sources.write_knn"), "s"),
      ("index.build.by_label_s", medianS("index.build.by_label"), "s"),
      ("index.build.by_range_s", medianS("index.build.by_range"), "s"),
      ("index.build.ivf_s", medianS("index.build.ivf"), "s"),
      ("index.build_s", groupSumS("index.build."), "s"),
      ("index.store_bytes_per_input_byte", storeRatio, "ratio"),
      ("index.tune.nprobe_s", medianS("index.tune.nprobe"), "s"),
      ("index.tune_s", groupSumS("index.tune."), "s"),
      ("index.tune.nprobe_chosen", nprobe.toDouble, "count"),
      ("route_ms_per_query", medianMsPer(serve.route), "ms")) ++
      serve.search.zipWithIndex.map { case (s, t) =>
        (s"search.t${t}_ms_per_query", medianMsPer(s), "ms")
      } ++ Seq(
      ("spark.jobs_per_query", perQuery(_.jobs), "count"),
      ("spark.stages_per_query", perQuery(_.stages), "count"),
      ("spark.tasks_per_query", perQuery(_.tasks.toDouble), "count"),
      ("spark.task_cpu_ms_per_query", perQuery(_.taskCpuMs), "ms"),
      ("spark.gc_ms_per_query", perQuery(_.gcMs.toDouble), "ms"),
      ("spark.shuffle_bytes_per_query",
        perQuery(s => (s.shuffleReadBytes + s.shuffleWriteBytes).toDouble), "bytes"),
      ("spark.driver_only_ms_per_query", perQuery(_.driverOnlyMs), "ms"),
      ("index.cache.hits", serve.cache.hits.toDouble, "count"),
      ("index.cache.misses", serve.cache.misses.toDouble, "count"),
      ("index.cache.hit_ratio",
        if (lookups == 0) 0.0 else serve.cache.hits.toDouble / lookups, "ratio"),
      ("index.cache.used_mb", serve.cache.usedBytes / 1048576.0, "MB"),
      ("index.hnsw.deserialize_ms", micro.deserializeMs, "ms"),
      ("index.hnsw.walk_us", micro.walkUs, "us"),
      ("simd.l2sq_ns", micro.l2sqNs, "ns"),
      ("machine.canary_cpu_s", canary.getOrElse("canary_cpu_sec", 0.0), "s"),
      ("machine.canary_scan_s", canary.getOrElse("canary_scan_sec", 0.0), "s"),
      ("trace.unattributed_jobs", jobs.count(_.span == -1).toDouble, "count"),
      ("trace.overhead_ms_per_query", serve.overheadMsPerQuery, "ms"))
  }

  /** Writes every span with its listener figures, one JSON object a
    * line, then one line listing the call sites of unattributed jobs. */
  def writeSpans(ctx: Ctx, path: String): Unit = {
    val jobs = ctx.tr.ledger.snapshot()
    val stats = SpanStats.of(ctx.tr.recorded, jobs)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      stats.foreach(s => out.println(SpanStats.toJson(s)))
      out.println(Json.obj("unattributed_jobs" -> jobs.filter(_.span == -1)
        .map(j => Map("job" -> j.jobId, "call_site" -> j.callSite))))
    } finally out.close()
  }

  final case class Micro(deserializeMs: Double, walkUs: Double, l2sqNs: Double)

  /** The largest stored graph of `store`: `HnswIndex.fromBytes`, one
    * single-threaded `search` per query, and the distance kernel. */
  private def microPass(ctx: Ctx, store: String, queries: DataFrame): Micro = {
    val blob = ctx.spark.read.parquet(store)
      .orderBy(size(col("ids")).desc, col("bucket"), col("sub"))
      .select("graph").head.getAs[Array[Byte]](0)
    val deser = (1 to 9).map { _ =>
      val t0 = System.nanoTime(); HnswIndex.fromBytes(blob); (System.nanoTime() - t0) / 1e6
    }
    val idx = HnswIndex.fromBytes(blob)
    val qs = queries.orderBy("qid").limit(200).select("qvec").collect()
      .map(_.getSeq[Float](0).toArray)
    val walk = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      qs.foreach(q => idx.search(q, 100, 400))
      (System.nanoTime() - t0) / 1e3 / qs.length
    }
    val kernel = graft.simd.VectorKernels.Holder.KERNEL
    val evals = 1 << 20
    var sink = 0.0
    val l2 = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < evals) { sink += kernel.l2sq(qs(i % qs.length), qs((i + 1) % qs.length)); i += 1 }
      (System.nanoTime() - t0).toDouble / evals
    }
    require(sink > 0, "distance kernel returned no work")
    Micro(Stats.median(deser), Stats.median(walk), Stats.median(l2))
  }
}
