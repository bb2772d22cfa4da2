package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.AnnCatalog

import graft.index.TypeStores

/** Multi-executor measurement of the serving-path claims that were,
  * until round 12, reasoned from `local[32]` — run under Spark's
  * `local-cluster[2,8,…]` master, which launches REAL separate
  * executor JVMs through the standalone Worker machinery on this one
  * box (same scheduling, serialization, and process isolation as a
  * cluster; no new hardware).
  *
  * What it measures / asserts:
  *   1. ServingCache locality: the cache is per-JVM, so each executor
  *      must populate its OWN copy with the rows its scan tasks
  *      touched, and the driver's copy must stay EMPTY (serving walks
  *      run executor-side). Reported as per-executor (hits, misses,
  *      entries) deltas per route.
  *   2. Plan invariance: the routed statements plan exactly as they do
  *      in local mode (AnnTopK + route marker) — the strategy reads
  *      nothing host-local.
  *   3. Result correctness across the executor boundary: the routed
  *      top-k equals the in-session exact plan's top-k on the same
  *      statements (graphs, ids and attrs survive serialization into
  *      separate JVMs).
  *   4. Broadcast-side sanity: a routed category search
  *      (AnnIndexStore.searchBy shape) and a broadcast join both
  *      complete with plans unchanged.
  *
  *   5. Concurrency across executors: four threads serving the same
  *      store through the warm path all get the exact answer.
  *
  * Under multi-executor scheduling a warm statement is NOT guaranteed
  * its task lands on the executor that cached its bucket — misses on a
  * warm route are the expected cross-executor cost the cold fallback
  * absorbs (reads the blob, repopulates THAT executor), not an error;
  * the probe records the measured hit/miss split instead of assuming
  * local-mode behavior.
  *
  * Usage: runMain graft.tools.LocalClusterProbe [sfDir] [stmts]
  */
object LocalClusterProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val stmts = if (args.length > 1) args(1).toInt else 8

    // executors are separate JVMs launched via SPARK_HOME — they need
    // the engine's classes (this JVM's classpath) and the vector module
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master("local-cluster[2,8,4096]")
      .config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", "--add-modules=jdk.incubator.vector")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // one row per executor JVM: its ServingCache counters right now.
    // 64 tiny tasks across 2×8 cores guarantees both executors report.
    def executorCaches(): Map[String, (Long, Long, Int)] =
      spark.sparkContext.parallelize(0 until 64, 64).mapPartitions { _ =>
        Iterator((org.apache.spark.SparkEnv.get.executorId,
          (graft.index.ServingCache.hits.get(),
            graft.index.ServingCache.misses.get(),
            graft.index.ServingCache.entryCount)))
      }.collect().toMap

    // executors register ASYNCHRONOUSLY after getOrCreate, and the
    // probe tasks are sub-millisecond — the first-registered executor
    // can drain all 64 before the second JVM comes up, failing the
    // assert on a healthy cluster. Await registration, then probe.
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var execs0 = executorCaches()
    while (execs0.size < 2 && System.nanoTime() < deadline) {
      Thread.sleep(500)
      execs0 = executorCaches()
    }
    println(s"PROBE executors: ${execs0.keys.toSeq.sorted.mkString(",")}")
    require(execs0.size >= 2, s"expected >=2 executors, got $execs0")

    import graft.functions.{VectorFunctions => VF}
    import graft.queries.StorePaths
    val embBase = s"$dir/embeddings.parquet"
    val ivfPath = StorePaths.ensureIvfStore(spark, dir)
    val root = StorePaths.ensureRouteStores(spark, dir)
    val hashPath = TypeStores.hashPath(root)
    val basePath = s"$root/base"
    val b = spark.read.parquet(basePath)

    val q = graft.SparkEntry.vecQueries(spark, dir)
    def qsOf(t: Int): Array[(Long, Double, Double, Array[Float])] =
      q.filter(col("qtype") === t).orderBy("qid").limit(stmts)
        .select("v", "l", "r", "qvec").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Float](3).toArray))

    def report(route: String, before: Map[String, (Long, Long, Int)]): Unit = {
      val after = executorCaches()
      val lines = after.toSeq.sortBy(_._1).map { case (id, (h, m, e)) =>
        val (h0, m0, _) = before.getOrElse(id, (0L, 0L, 0))
        s"exec=$id hits=+${h - h0} misses=+${m - m0} entries=$e"
      }
      println(s"PROBE $route: ${lines.mkString("  ")}")
    }

    def runRoute(route: String, params: Array[(Long, Double, Double, Array[Float])],
        mustContain: String)(
        mk: ((Long, Double, Double, Array[Float])) => DataFrame): Unit = {
      val before = executorCaches()
      val plan = mk(params.head).queryExecution.executedPlan.toString
      require(plan.contains("AnnTopK") && plan.contains(mustContain),
        s"$route did not route under local-cluster (wanted $mustContain):\n$plan")
      val t0 = System.nanoTime()
      params.foreach(p => mk(p).collect()) // cold pass (populates per-executor)
      val cold = (System.nanoTime() - t0) / 1e6 / params.length
      val t1 = System.nanoTime()
      params.foreach(p => mk(p).collect()) // warm pass (scheduler decides locality)
      val warm = (System.nanoTime() - t1) / 1e6 / params.length
      println(f"PROBE $route walls: cold ${cold}%.1f ms/stmt, warm ${warm}%.1f ms/stmt")
      report(route, before)
    }

    def ranked(filtered: DataFrame, qv: Array[Float]): DataFrame =
      filtered.orderBy(VF.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)

    try {
      // trusted on embBase: its stores were built from renamed-column
      // copies of it, whose records can never match its listing.
      // basePath's type stores were built from a bare read of it, so
      // it serves in guard mode with no fetch while unchanged.
      AnnCatalog.register(embBase, hashPath, idCol = "vec_id",
        vecCol = "embedding", ef = 400, trusted = true,
        ivfIndex = Some(ivfPath), nprobe = 4)
      AnnCatalog.register(basePath, hashPath, idCol = "id",
        vecCol = "vec", ef = 200,
        labelIndex = Some(("label", TypeStores.labelPath(root))),
        rangeIndex = Some(("ts", TypeStores.decilePath(root))))

      runRoute("t0_ivf", qsOf(0), "ivf=") { p =>
        spark.read.parquet(embBase)
          .orderBy(VF.l2Sq(col("embedding"), typedLit(p._4)), col("vec_id"))
          .select("vec_id").limit(10)
      }
      runRoute("t1_label", qsOf(1), "bucket=") { p =>
        ranked(b.filter(col("label") === p._1), p._4)
      }
      runRoute("t2_range", qsOf(2), "ts=[") { p =>
        ranked(b.filter(col("ts") >= p._2 && col("ts") <= p._3), p._4)
      }

      // the driver's own cache must be untouched: serving walks are
      // executor-side jobs, never driver-side reads
      require(graft.index.ServingCache.entryCount == 0,
        s"driver ServingCache holds ${graft.index.ServingCache.entryCount} " +
          "entries — serving leaked onto the driver")
      println("PROBE driver cache: 0 entries (serving is executor-side)")

      // result correctness across the executor boundary: routed top-k ==
      // the exact plan's top-k, same session, same statements
      val mismatches = qsOf(1).count { p =>
        val routed = ranked(b.filter(col("label") === p._1), p._4)
          .collect().map(_.getLong(0)).toSeq
        AnnCatalog.unregister(basePath)
        val exact =
          try ranked(b.filter(col("label") === p._1), p._4)
            .collect().map(_.getLong(0)).toSeq
          finally AnnCatalog.register(basePath, hashPath,
            idCol = "id", vecCol = "vec", ef = 200,
            labelIndex = Some(("label", TypeStores.labelPath(root))),
            rangeIndex = Some(("ts", TypeStores.decilePath(root))))
        routed != exact
      }
      require(mismatches == 0,
        s"$mismatches/$stmts routed statements diverged from the exact plan")
      println(s"PROBE routed==exact on ${qsOf(1).length} t1 statements: OK")

      // broadcast boundary: a small-dim broadcast join must plan and run
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val j = orders.join(broadcast(cust),
        orders("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment").agg(sum("o_totalprice").as("rev"))
      val jPlan = j.queryExecution.executedPlan.toString
      require(jPlan.contains("BroadcastHashJoin"),
        s"broadcast join did not plan as broadcast:\n$jPlan")
      require(j.collect().length > 0, "broadcast join returned no rows")
      println("PROBE broadcast join: BroadcastHashJoin, rows OK")

      // concurrent statements through the warm path: the serving
      // cache is shared executor state — four threads racing the same
      // store must all serve the exact answer (the local-mode
      // ServingConcurrencySpec covers one JVM; this covers separate
      // executor JVMs)
      locally {
        val params = qsOf(1)
        val expected = params.map { p =>
          ranked(b.filter(col("label") === p._1), p._4)
            .collect().map(_.getLong(0)).toSeq
        }
        val errs = new java.util.concurrent.atomic.AtomicInteger()
        val threads = (0 until 4).map { _ =>
          new Thread(() => {
            params.zipWithIndex.foreach { case (p, i) =>
              val got = ranked(b.filter(col("label") === p._1), p._4)
                .collect().map(_.getLong(0)).toSeq
              if (got != expected(i)) errs.incrementAndGet()
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        require(errs.get() == 0,
          s"${errs.get()} concurrent warm-path statements diverged")
        println(s"PROBE concurrent warm path: 4 threads x ${params.length} " +
          "statements, all exact")
      }

      // the banded dedup shuffle under real multi-executor exchange:
      // band keys hash-partition ACROSS executor JVMs — the result must
      // be deterministic under whatever task placement the scheduler
      // picks (two runs, identical rows), or banding has a
      // merge-ordering dependence a single JVM would mask
      val pairs1 = graft.queries.TextQueries.queries("dedup_minhash_lsh")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val pairs2 = graft.queries.TextQueries.queries("dedup_minhash_lsh")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      require(pairs1.nonEmpty && pairs1 == pairs2,
        s"minhash banding not deterministic across executor scheduling " +
          s"(${pairs1.length} vs ${pairs2.length} rows)")
      println(s"PROBE minhash banding: ${pairs1.length} pairs, " +
        "deterministic across two multi-executor runs")

      // bucketed co-located join: the zero-SHUFFLE claim must hold when
      // the co-located scan tasks are split across executors. Broadcast
      // is disabled for the check — at probe scale Catalyst would
      // (correctly) broadcast the small side, which answers a different
      // question than bucket co-location
      val bcThresh = "spark.sql.autoBroadcastJoinThreshold"
      val prevBc = spark.conf.get(bcThresh)
      val rev =
        try {
          spark.conf.set(bcThresh, "-1")
          val df = graft.operators.Bucketing.revenuePerOrder(spark, dir, buckets = 8)
          val rPlan = df.queryExecution.executedPlan.toString
          require(!rPlan.contains("Exchange hashpartitioning") &&
              !rPlan.contains("ShuffleExchange"),
            s"bucketed join re-shuffled under local-cluster:\n$rPlan")
          require(rPlan.contains("SortMergeJoin"),
            s"bucketed join did not plan as co-located sort-merge:\n$rPlan")
          df.collect()
        } finally spark.conf.set(bcThresh, prevBc)
      require(rev.length > 0, "bucketed join returned no rows")
      println("PROBE bucketed join: co-located SortMergeJoin, zero shuffle " +
        "Exchange under local-cluster, rows OK")

      println("PROBE local-cluster: ALL CHECKS PASSED")
    } finally {
      AnnCatalog.unregister(embBase)
      AnnCatalog.unregister(basePath)
      spark.stop()
    }
  }
}
