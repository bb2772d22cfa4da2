package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AnnCatalog, AnnTopKExec}

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.index.AnnIndexStore

/** The SQL ANN auto-route: ORDER BY l2_sq(vec, lit) LIMIT k over a
  * registered parquet path must plan as AnnTopKExec (index search), and
  * fall back to the built-in exact plan in every non-matching case. */
class AnnTopKStrategySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private lazy val dirs = fixture("graft_anntopk")

  /** A 1,200-row base and a 3-bucket store built from a bare read of it,
    * under a fresh temp root; returns (base path, index path). */
  private def fixture(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(prefix).toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(30)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    Seq.tabulate(1200) { i =>
      (i.toLong, centers(i % 30).map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath), indexPath, numBuckets = 3)
    (basePath, indexPath)
  }

  private def planOf(qv: Array[Float], k: Int, basePath: String = dirs._1) =
    spark.read.parquet(basePath)
      .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
      .select("id")
      .limit(k)

  private def qvecOf(id: Long, basePath: String = dirs._1): Array[Float] =
    spark.read.parquet(basePath).filter(col("id") === id)
      .select("vec").head.getSeq[Float](0).toArray

  test("registered path routes to AnnTopKExec with good recall") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(7L)
      val df = planOf(qv, 10)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val got = df.collect().map(_.getLong(0)).toSet
      val exact = spark.read.parquet(dirs._1)
        .withColumn("d", VectorFunctions.l2Sq(col("vec"), typedLit(qv)))
        .orderBy(col("d"), col("id")).select("id").limit(10)
        .collect().map(_.getLong(0)).toSet
      val recall = got.intersect(exact).size / 10.0
      assert(recall >= 0.8, s"recall $recall")
    } finally AnnCatalog.unregister(dirs._1)
  }

  private def annExec(df: org.apache.spark.sql.DataFrame): AnnTopKExec =
    df.queryExecution.executedPlan.collectFirst { case e: AnnTopKExec => e }
      .getOrElse(fail(s"expected AnnTopK in:\n${df.queryExecution.executedPlan}"))

  test("a warm trusted id-only statement runs 1 Spark job under local[4]") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 150, trusted = true)
    try {
      val qv = qvecOf(11L)
      planOf(qv, 5).collect() // first pass may be cold
      // a fresh statement; its parquet read's inference job runs here,
      // outside the record
      val df = planOf(qv, 5)
      val rec = JobRecorder.record(spark.sparkContext)(df.collect())
      // the warm (bucket, sub) scan's takeOrdered alone: no work-list
      // collect, no cold pass, and no result job (the collect is
      // answered from the driver)
      assert(rec.jobs.size == 1, rec.jobs.map(_.entry))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("a warm guard-mode id-only statement runs 2 Spark jobs") {
    val (basePath, indexPath) = fixture("graft_anntopk_guard_jobs")
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(23L, basePath)
      planOf(qv, 5, basePath).collect() // cold pass and the null-freedom probe
      // the base is unchanged since the build: its listing matches the
      // store's record, so the warm scan is the statement's only job
      val unchanged = planOf(qv, 5, basePath)
      val one = JobRecorder.record(spark.sparkContext)(unchanged.collect())
      assert(one.jobs.size == 1, one.jobs.map(_.entry))
      // the same rows rewritten into new files: the fetch runs
      rewriteSameRows(basePath)
      val df = planOf(qv, 5, basePath)
      val rec = JobRecorder.record(spark.sparkContext)(df.collect())
      // the warm scan and the id fetch; the fetch reads the base with
      // the scan's schema, so no footer-inference job
      assert(rec.jobs.size == 2, rec.jobs.map(_.entry))
      assert(!rec.jobs.exists(_.isParquetRead), rec.jobs.map(_.entry))
    } finally AnnCatalog.unregister(basePath)
  }

  test("driver-side metrics: rows fetched is 0 when trusted, k in guard mode") {
    val (basePath, indexPath) = fixture("graft_anntopk_guard_metrics")
    try {
      AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
        ef = 150, trusted = true)
      val trusted = planOf(qvecOf(31L), 10)
      trusted.collect()
      val t = annExec(trusted).metrics
      assert(t("rowsFetched").value == 0)
      assert(t("numOutputRows").value == 10)
      assert(t("searchTime").value >= 0 && t("fetchTime").value >= 0)

      // guard mode on a base unchanged since the index build: the
      // listing matches the store's record and nothing is fetched
      AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 150)
      val same = planOf(qvecOf(31L, basePath), 10, basePath)
      same.collect()
      val u = annExec(same).metrics
      assert(u("rowsFetched").value == 0)
      assert(u("guardSkips").value == 1)
      assert(u("numOutputRows").value == 10)

      // the same rows rewritten into new files: every hit is fetched
      rewriteSameRows(basePath)
      val guard = planOf(qvecOf(31L, basePath), 10, basePath)
      guard.collect()
      val g = annExec(guard).metrics
      assert(g("rowsFetched").value == 10)
      assert(g("numOutputRows").value == 10)

      // the RDD path reports through the same row builder
      val viaRdd = planOf(qvecOf(37L, basePath), 10, basePath)
      assert(viaRdd.queryExecution.toRdd.count() == 10)
      assert(annExec(viaRdd).metrics("rowsFetched").value == 10)
    } finally {
      AnnCatalog.unregister(dirs._1)
      AnnCatalog.unregister(basePath)
    }
  }

  /** Rewrite the parquet dataset at `path` with its own rows. The new
    * files have new names, so a store built before the rewrite no
    * longer matches the listing, and guard mode fetches. */
  private def rewriteSameRows(path: String): Unit = {
    val before = spark.read.parquet(path)
    spark.createDataFrame(
        spark.sparkContext.parallelize(before.collect().toSeq, 2), before.schema)
      .write.mode("overwrite").parquet(path)
  }

  test("a warm trusted statement fires one query-execution callback: its own collect") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 150, trusted = true)
    try {
      val qv = qvecOf(13L)
      planOf(qv, 5).collect()
      val df = planOf(qv, 5)
      // the warm search plans no Dataset of its own
      val calls = JobRecorder.queryCallbacks(spark)(df.collect())
      assert(calls == Seq("collect"), calls)
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("a warm guard-mode statement fires one query-execution callback: its own collect") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(29L)
      planOf(qv, 5).collect() // cold pass and the null-freedom probe
      val df = planOf(qv, 5)
      df.queryExecution.executedPlan
      // the guard fetch reads the base in a plain RDD job: no Dataset
      val calls = JobRecorder.queryCallbacks(spark)(df.collect())
      assert(calls == Seq("collect"), calls)
    } finally AnnCatalog.unregister(dirs._1)
  }

  /** A fresh 600-row base with labels 0..3 (id % 4), registered with a
    * per-label store of its own; returns the base path. */
  private def labelled(tag: String, trusted: Boolean): String = {
    val root = Files.createTempDirectory(s"graft_anntopk_$tag").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val byLabelPath = s"$root/by_label"
    val rnd = new scala.util.Random(61)
    Seq.tabulate(600)(i => (i.toLong, (i % 4).toLong, Array.fill(dim)(rnd.nextFloat())))
      .toDF("id", "label", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.buildBy(spark.read.parquet(basePath), byLabelPath, "label")
    AnnCatalog.register(basePath, s"$root/unused", idCol = "id", vecCol = "vec",
      ef = 200, labelIndex = Some(("label", byLabelPath)), trusted = trusted)
    basePath
  }

  private def labelStmt(basePath: String, label: Long, qv: Array[Float]) =
    spark.read.parquet(basePath).filter(col("label") === label)
      .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
      .select("id").limit(10)

  test("a trusted statement's first touch of a label: 2 jobs, one callback") {
    val basePath = labelled("cold_label", trusted = true)
    try {
      val qv = Array.fill(dim)(0.5f)
      labelStmt(basePath, 1L, qv).collect() // the store's keys, label 1 cached
      val df = labelStmt(basePath, 2L, qv)
      df.queryExecution.executedPlan
      var rec: JobRecorder.Recording = null
      val calls = JobRecorder.queryCallbacks(spark) {
        rec = JobRecorder.record(spark.sparkContext)(df.collect())
      }
      // the warm pass finds label 2 missing; the cold pass reads its blob
      // in a plain RDD job, which fires no callback of its own
      assert(rec.jobs.size == 2, rec.jobs.map(_.entry))
      assert(calls == Seq("collect"), calls)
      assert(annExec(df).metrics("cacheMisses").value == 1)
    } finally AnnCatalog.unregister(basePath)
  }

  test("cacheHits and cacheMisses metrics sum to the serving cache's own counts") {
    val basePath = labelled("hit_metrics", trusted = false)
    try {
      val qv = Array.fill(dim)(0.25f)
      val h0 = graft.index.ServingCache.hits.get()
      val m0 = graft.index.ServingCache.misses.get()
      val metrics = Seq(0L, 1L, 0L, 2L, 1L, 3L, 0L).map { label =>
        val df = labelStmt(basePath, label, qv)
        assert(df.collect().length == 10)
        val m = annExec(df).metrics
        (m("cacheHits").value, m("cacheMisses").value)
      }
      val (hits, misses) = (metrics.map(_._1).sum, metrics.map(_._2).sum)
      assert(misses == 4 && hits == 3, metrics)
      assert(hits == graft.index.ServingCache.hits.get() - h0)
      assert(misses == graft.index.ServingCache.misses.get() - m0)
    } finally AnnCatalog.unregister(basePath)
  }

  test("a store version's keys are collected by its first statement only") {
    val root = Files.createTempDirectory("graft_anntopk_keys").toFile
    root.deleteOnExit()
    val indexPath = s"$root/index"
    AnnIndexStore.build(spark.read.parquet(dirs._1), indexPath, numBuckets = 3)
    AnnCatalog.register(dirs._1, indexPath, idCol = "id", vecCol = "vec",
      ef = 150, trusted = true)
    try {
      val qv = qvecOf(17L)
      def keyJobs(): Seq[JobRecorder.Job] = {
        val df = planOf(qv, 5)
        JobRecorder.record(spark.sparkContext)(df.collect())
          .jobs.filter(_.callSite.contains("AnnIndexStore$.storeKeys"))
      }
      // the first statement also lists the new version's frame (its
      // footer-inference job), then collects the keys
      assert(keyJobs().count(!_.isParquetRead) == 1)
      assert(keyJobs().isEmpty)
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("an in-place label-store rebuild that adds a label serves it next statement") {
    val root = Files.createTempDirectory("graft_anntopk_relabel").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val byLabelPath = s"$root/by_label"
    val rnd = new scala.util.Random(53)
    Seq.tabulate(600)(i => (i.toLong, (i % 4).toLong, Array.fill(dim)(rnd.nextFloat())))
      .toDF("id", "label", "vec").write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    AnnIndexStore.buildBy(base.filter(col("label") < 3), byLabelPath, "label")
    AnnCatalog.register(basePath, s"$root/unused", idCol = "id", vecCol = "vec",
      ef = 200, labelIndex = Some(("label", byLabelPath)), trusted = true)
    try {
      def label(v: Long): Array[Long] =
        spark.read.parquet(basePath).filter(col("label") === v)
          .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(Array.fill(dim)(0.5f))),
            col("id"))
          .select("id").limit(10).collect().map(_.getLong(0))
      assert(label(1L).length == 10) // the first version's keys are now held
      assert(label(3L).isEmpty)
      AnnIndexStore.buildBy(base, byLabelPath, "label")
      val got = label(3L)
      assert(got.length == 10 && got.forall(_ % 4 == 3), got.toSeq)
    } finally AnnCatalog.unregister(basePath)
  }

  test("driver-side metrics: an IVF statement walks nprobe rows; a warm one misses none") {
    val root = Files.createTempDirectory("graft_anntopk_ivf_metrics").toFile
    root.deleteOnExit()
    val ivfPath = s"$root/ivf"
    AnnIndexStore.buildIvfSeeded(spark.read.parquet(dirs._1), ivfPath, nlist = 8,
      efConstruction = 100)
    // unsalted: one store row per list
    val lists = spark.read.parquet(
      AnnIndexStore.resolveStore(s"${AnnIndexStore.resolveStore(ivfPath)}/lists"))
    assert(lists.count() == 8 && lists.select("bucket").distinct().count() == 8)
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 150, ivfIndex = Some(ivfPath), nprobe = 3, trusted = true)
    try {
      val qv = qvecOf(41L)
      val cold = planOf(qv, 10)
      cold.collect()
      assert(annExec(cold).metrics("storeRowsWalked").value == 3)
      assert(annExec(cold).metrics("cacheMisses").value == 3)
      val warm = planOf(qv, 10)
      warm.collect()
      assert(annExec(warm).metrics("storeRowsWalked").value == 3)
      assert(annExec(warm).metrics("cacheMisses").value == 0)
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("re-collecting a routed DataFrame searches the current base again") {
    val root = Files.createTempDirectory("graft_anntopk_recollect").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(43)
    val orig = Seq.tabulate(400)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat())))
    orig.toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath), indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 400)
    try {
      spark.conf.set("spark.graft.ann.trustIndex", "false")
      val qv = orig.find(_._1 == 5L).get._2
      val df = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(20)
      assert(df.queryExecution.executedPlan.toString.contains("AnnTopK"))
      val first = df.collect().map(_.getLong(0))
      assert(first.head == 5L)
      val second = first(1)
      // after the plan ran: the second-ranked id takes the query vector
      // and id 5 moves away
      orig.map {
        case (i, _) if i == second => (i, qv)
        case (i, _) if i == 5L => (i, Array.fill(dim)(50f))
        case r => r
      }.toDF("id", "vec").write.mode("overwrite").parquet(basePath)
      val again = df.collect().map(_.getLong(0))
      assert(again.head == second,
        s"the same DataFrame must rank by the current base: ${again.take(3).mkString(",")}")
      assert(again.last == 5L)
    } finally {
      spark.conf.unset("spark.graft.ann.trustIndex")
      AnnCatalog.unregister(basePath)
    }
  }

  test("multi-root scan refuses the route (one matching registration is not the whole scan)") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 150, trusted = true)
    try {
      // a second root the index does NOT cover: routing would serve
      // only dirs._1's rows and the extra root's would silently vanish
      val extra = Files.createTempDirectory("graft_anntopk_extra").toString + "/p"
      Seq((90001L, Array.fill(dim)(0.01f))).toDF("id", "vec")
        .write.mode("overwrite").parquet(extra)
      val qv = Array.fill(dim)(0.01f)
      val df = spark.read.parquet(dirs._1, extra)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(5)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("AnnTopK"),
        s"multi-root scan must keep the exact plan:\n$physical")
      assert(df.collect().map(_.getLong(0)).contains(90001L),
        "the un-indexed root's exact nearest row must be served")
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("unregistered path keeps the built-in exact plan") {
    val physical = planOf(qvecOf(3L), 5).queryExecution.executedPlan.toString
    assert(!physical.contains("AnnTopK"))
    assert(physical.contains("TakeOrderedAndProject"))
  }

  test("opt-out config disables the route even when registered") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec")
    try {
      spark.conf.set("spark.graft.ann.autoRoute", "false")
      val physical = planOf(qvecOf(3L), 5).queryExecution.executedPlan.toString
      assert(!physical.contains("AnnTopK"))
    } finally {
      spark.conf.unset("spark.graft.ann.autoRoute")
      AnnCatalog.unregister(dirs._1)
    }
  }

  test("non-matching shapes fall through (desc order, extra columns)") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec")
    try {
      val qv = qvecOf(3L)
      val desc = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)).desc)
        .select("id").limit(5)
      assert(!desc.queryExecution.executedPlan.toString.contains("AnnTopK"))
      val wide = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)))
        .limit(5)
      assert(!wide.queryExecution.executedPlan.toString.contains("AnnTopK"))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("collapsed projection with constants and aliased id still routes") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(5L)
      val df = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(7)
        .select(lit(5L).as("qid"), col("id").as("nid"))
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val rows = df.collect()
      assert(rows.length == 7 && rows.forall(_.getLong(0) == 5L))
      assert(rows.map(_.getLong(1)).contains(5L)) // self is its own nearest
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("ivfIndex registration routes type-0 through centroid-probed lists") {
    val root = Files.createTempDirectory("graft_anntopk_ivf").toFile
    root.deleteOnExit()
    val ivfPath = s"$root/ivf"
    AnnIndexStore.buildIvfSeeded(spark.read.parquet(dirs._1), ivfPath, nlist = 8,
      efConstruction = 100)
    // nprobe = nlist: candidate set is the whole base, so the routed
    // result must EQUAL the exact plan's (walks are exhaustive-grade)
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 600, ivfIndex = Some(ivfPath), nprobe = 8)
    try {
      val qv = qvecOf(11L)
      val df = planOf(qv, 10)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("ivf=") && physical.contains("nprobe=8"),
        s"expected IvfRoute in:\n$physical")
      val got = df.collect().map(_.getLong(0)).toSeq
      val exact = spark.read.parquet(dirs._1)
        .withColumn("d", VectorFunctions.l2Sq(col("vec"), typedLit(qv)))
        .orderBy(col("d"), col("id")).select("id").limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(got == exact, s"got $got vs exact $exact")

      // nprobe < nlist: result must equal the exact top-k over ONLY the
      // probed lists' members (the oracle's replay semantics)
      AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
        ef = 600, ivfIndex = Some(ivfPath), nprobe = 2)
      val df2 = planOf(qv, 10)
      assert(df2.queryExecution.executedPlan.toString.contains("nprobe=2"))
      val got2 = df2.collect().map(_.getLong(0)).toSeq
      val cents = spark.read.parquet(s"$ivfPath/centroids")
        .select(col("list").cast("int"), col("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2)
      def nearest(v: Array[Float], np: Int): Seq[Int] =
        cents.zipWithIndex.map { case (c, li) =>
          var s = 0.0; var i = 0
          while (i < dim) { val d = v(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
          (s, li)
        }.sortBy(identity).take(np).map(_._2).toSeq
      val probed = nearest(qv, 2).toSet
      val expected2 = spark.read.parquet(dirs._1)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .filter { case (_, v) => probed.contains(nearest(v, 1).head) }
        .map { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < dim) { val d = v(i).toDouble - qv(i).toDouble; s += d * d; i += 1 }
          (s, id)
        }.sortBy(identity).take(10).map(_._2).toSeq
      assert(got2 == expected2, s"got $got2 vs expected $expected2")

      // session conf overrides the registered nprobe
      spark.conf.set("spark.graft.ann.nprobe", "5")
      try assert(planOf(qv, 10).queryExecution.executedPlan.toString.contains("nprobe=5"))
      finally spark.conf.unset("spark.graft.ann.nprobe")

      // AutoNprobe (the default) resolves the store's tuned `_nprobe`
      // sidecar at the route decision — the serving arms consume what
      // the tuner persisted, with no caller plumbing
      AnnIndexStore.writeNprobe(ivfPath, 3)
      AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
        ef = 600, ivfIndex = Some(ivfPath))
      assert(planOf(qv, 10).queryExecution.executedPlan.toString.contains("nprobe=3"),
        "AutoNprobe registration must route with the sidecar's tuned value")
      // an explicit registration value still beats the sidecar
      AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
        ef = 600, ivfIndex = Some(ivfPath), nprobe = 2)
      assert(planOf(qv, 10).queryExecution.executedPlan.toString.contains("nprobe=2"))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("an in-place IVF rebuild routes by the rebuilt store's centroids") {
    val root = Files.createTempDirectory("graft_anntopk_ivf_rebuild").toFile
    root.deleteOnExit()
    val ivfPath = s"$root/ivf"
    val base = spark.read.parquet(dirs._1)
    AnnIndexStore.buildIvfSeeded(base, ivfPath, nlist = 4, efConstruction = 100)
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec",
      ef = 600, ivfIndex = Some(ivfPath), nprobe = 2)
    try {
      val qs = Seq(3L, 11L, 250L, 777L, 1100L).map(id => (id, qvecOf(id)))
      qs.foreach { case (_, qv) => planOf(qv, 10).collect() } // nlist = 4 store
      // same path, different nlist, no re-registration
      AnnIndexStore.buildIvfSeeded(base, ivfPath, nlist = 12, efConstruction = 100)
      val expected = AnnIndexStore.searchIvf(spark, ivfPath, qs.toDF("qid", "qvec"),
          k = 10, ef = 600, nprobe = 2)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("nid")))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
      qs.foreach { case (id, qv) =>
        val got = planOf(qv, 10).collect().map(_.getLong(0)).toSeq
        assert(got == expected(id), s"query $id: routed $got vs searchIvf ${expected(id)}")
      }
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("registerTuned serves with the measured ef, not a hand-picked constant") {
    val sample = spark.read.parquet(dirs._1).orderBy("id").limit(40)
      .collect().map(_.getSeq[Float](1).toArray)
    val res = AnnCatalog.registerTuned(spark, dirs._1, dirs._2,
      sample, k = 10, targetRecall = 0.9, idCol = "id", vecCol = "vec",
      ladder = Seq(16, 32, 64, 128))
    try {
      // the tune result is a real ladder measurement...
      val chosenRung = res.rungs.find(_.ef == res.chosenEf).get
      assert(chosenRung.recall >= 0.9 || res.chosenEf == 128)
      // ...and the registration consumed it: the planned exec carries
      // max(chosenEf, k) as its serving ef
      val physical = planOf(qvecOf(7L), 10).queryExecution.executedPlan.toString
      val wantEf = math.max(res.chosenEf, 10)
      assert(physical.contains(s"ef=$wantEf"),
        s"expected ef=$wantEf (tuned ${res.chosenEf}) in:\n$physical")
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("label-equality predicate routes to the per-label index (type-1 dispatch)") {
    val root = Files.createTempDirectory("graft_anntopk_lbl").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val byLabelPath = s"$root/by_label"
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    val df = Seq.tabulate(1000) { i =>
      (i.toLong, (i % 5).toLong, centers(i % 20).map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("id", "label", "vec")
    df.write.mode("overwrite").parquet(basePath)
    graft.index.AnnIndexStore.buildBy(spark.read.parquet(basePath), byLabelPath, "label")
    AnnCatalog.register(basePath, s"$root/unused", idCol = "id", vecCol = "vec",
      ef = 200, labelIndex = Some(("label", byLabelPath)))
    try {
      val qv = spark.read.parquet(basePath).filter(col("id") === 42L)
        .select("vec").head.getSeq[Float](0).toArray
      val routed = spark.read.parquet(basePath)
        .filter(col("label") === 2L)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      val physical = routed.queryExecution.executedPlan.toString
      assert(physical.contains("bucket=2"), s"expected bucketed AnnTopK in:\n$physical")
      val got = routed.collect().map(_.getLong(0))
      assert(got.length == 10 && got.forall(_ % 5 == 2)) // label = id % 5
      // recall vs exact filtered top-k
      val exact = spark.read.parquet(basePath).filter(col("label") === 2L)
        .withColumn("d", VectorFunctions.l2Sq(col("vec"), typedLit(qv)))
        .orderBy(col("d"), col("id")).select("id").limit(10)
        .collect().map(_.getLong(0)).toSet
      assert(got.toSet.intersect(exact).size >= 8)
    } finally AnnCatalog.unregister(basePath)
  }

  test("range and label+range predicates route to stored decile/label indexes") {
    val root = Files.createTempDirectory("graft_anntopk_rng").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val byLabelPath = s"$root/by_label"
    val byDecilePath = s"$root/by_decile"
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    Seq.tabulate(1000) { i =>
      (i.toLong, (i % 5).toLong, (i % 50) / 50.0,
        centers(i % 20).map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("id", "label", "ts", "vec").write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    graft.index.AnnIndexStore.buildBy(base, byLabelPath, "label", attrCol = Some("ts"))
    graft.index.AnnIndexStore.buildBy(
      base.withColumn("decile", floor(col("ts") * 10).cast("long")),
      byDecilePath, "decile", attrCol = Some("ts"))
    AnnCatalog.register(basePath, s"$root/unused", idCol = "id", vecCol = "vec",
      ef = 200, labelIndex = Some(("label", byLabelPath)),
      rangeIndex = Some(("ts", byDecilePath)))
    try {
      val qv = base.filter(col("id") === 10L).select("vec").head.getSeq[Float](0).toArray
      // type 2: ts range only
      val t2 = base.filter(col("ts") >= 0.1 && col("ts") <= 0.6)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      val p2 = t2.queryExecution.executedPlan.toString
      assert(p2.contains("ts=[0.1,0.6]"), s"expected range AnnTopK in:\n$p2")
      val got2 = t2.collect().map(_.getLong(0))
      assert(got2.length == 10)
      val tsOf = Seq.tabulate(1000)(i => (i.toLong, (i % 50) / 50.0)).toMap
      assert(got2.forall(id => tsOf(id) >= 0.1 && tsOf(id) <= 0.6))
      // type 3: label AND ts range
      val t3 = base.filter(col("label") === 1L && col("ts") >= 0.1 && col("ts") <= 0.8)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      val p3 = t3.queryExecution.executedPlan.toString
      assert(p3.contains("bucket=1") && p3.contains("ts=[0.1,0.8]"),
        s"expected label+range AnnTopK in:\n$p3")
      val got3 = t3.collect().map(_.getLong(0))
      assert(got3.nonEmpty && got3.forall(id =>
        id % 5 == 1 && tsOf(id) >= 0.1 && tsOf(id) <= 0.8))
    } finally AnnCatalog.unregister(basePath)
  }

  test("wide projection routes: non-id base columns fetched by id") {
    val root = Files.createTempDirectory("graft_anntopk_wide").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(29)
    Seq.tabulate(800) { i =>
      (i.toLong, s"name_$i", (i % 40) / 40.0, Array.fill(dim)(rnd.nextFloat()))
    }.toDF("id", "name", "ts", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath).select("id", "vec"),
      indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = spark.read.parquet(basePath).filter(col("id") === 77L)
        .select("vec").head.getSeq[Float](0).toArray
      val df = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id", "name", "ts")
        .limit(6)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val rows = df.collect()
      assert(rows.length == 6)
      // fetched columns line up with the base row of each returned id
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(r.getString(1) == s"name_$id")
        assert(math.abs(r.getDouble(2) - (id % 40) / 40.0) < 1e-12)
      }
      assert(rows.map(_.getLong(0)).contains(77L))
    } finally AnnCatalog.unregister(basePath)
  }

  test("DataSourceV2 parquet scan routes too (v1 source list cleared)") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    val prior = spark.conf.get("spark.sql.sources.useV1SourceList")
    try {
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      val qv = qvecOf(9L)
      val df = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      assert(df.collect().map(_.getLong(0)).contains(9L))
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prior)
      AnnCatalog.unregister(dirs._1)
    }
  }

  test("DataSourceV2 wide projection: fetched columns line up with each id") {
    val root = Files.createTempDirectory("graft_anntopk_wide_v2").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(31)
    Seq.tabulate(800) { i =>
      (i.toLong, s"name_$i", (i % 40) / 40.0, i * 3, Array.fill(dim)(rnd.nextFloat()))
    }.toDF("id", "name", "ts", "pad", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath).select("id", "vec"),
      indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 150)
    val prior = spark.conf.get("spark.sql.sources.useV1SourceList")
    try {
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      val qv = spark.read.parquet(basePath).filter(col("id") === 77L)
        .select("vec").head.getSeq[Float](0).toArray
      val df = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id", "name", "ts")
        .limit(6)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val rows = df.collect()
      assert(rows.length == 6)
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(r.getString(1) == s"name_$id")
        assert(math.abs(r.getDouble(2) - (id % 40) / 40.0) < 1e-12)
      }
      assert(rows.head.getLong(0) == 77L)
      // no id in the statement: the v2 scan's read schema is pruned to
      // (name, vec), yet the fetch still filters on id
      val names = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)))
        .select("name").limit(6)
      assert(names.queryExecution.executedPlan.toString.contains("AnnTopK"))
      val got = names.collect().map(_.getString(0))
      assert(got.length == 6 && got.head == "name_77" && got.distinct.length == 6)
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prior)
      AnnCatalog.unregister(basePath)
    }
  }

  /** The statement's rows routed and, with routing off, unrouted. */
  private def routedAndExact(q: () => org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = {
    val routedDf = q()
    assert(routedDf.queryExecution.executedPlan.toString.contains("AnnTopK"),
      routedDf.queryExecution.executedPlan)
    val routed = routedDf.collect()
    spark.conf.set("spark.graft.ann.autoRoute", "false")
    try {
      val df = q()
      assert(!df.queryExecution.executedPlan.toString.contains("AnnTopK"))
      (routed, df.collect())
    } finally spark.conf.unset("spark.graft.ann.autoRoute")
  }

  test("hive-partitioned base: a guard-mode wide projection lines up with each id") {
    val root = Files.createTempDirectory("graft_anntopk_hive").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(67)
    Seq.tabulate(500) { i =>
      (i.toLong, i % 5, s"name_$i", Array.fill(dim)(rnd.nextFloat()))
    }.toDF("id", "label", "name", "vec")
      .write.mode("overwrite").partitionBy("label").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath).select("id", "vec"),
      indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 500)
    try {
      val qv = Array.fill(dim)(0.5f)
      val (routed, exact) = routedAndExact(() => spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id", "label", "name").limit(12))
      assert(routed.length == 12)
      routed.foreach { r =>
        val id = r.getLong(0)
        assert(r.getInt(1) == id % 5 && r.getString(2) == s"name_$id", r)
      }
      assert(routed.sameElements(exact),
        s"routed ${routed.mkString(",")}\nexact  ${exact.mkString(",")}")
    } finally AnnCatalog.unregister(basePath)
  }

  test("an INT id column with differently-cased names routes in guard mode") {
    val root = Files.createTempDirectory("graft_anntopk_intid").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(71)
    Seq.tabulate(400)(i => (i, s"n$i", Array.fill(dim)(rnd.nextFloat())))
      .toDF("ID", "Name", "Vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath), indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 400)
    try {
      val qv = Array.fill(dim)(0.5f)
      val (routed, exact) = routedAndExact(() => spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id", "name").limit(10))
      assert(routed.length == 10)
      assert(routed.forall(r => r.getString(1) == s"n${r.getInt(0)}"), routed.toSeq)
      assert(routed.sameElements(exact),
        s"routed ${routed.mkString(",")}\nexact  ${exact.mkString(",")}")
    } finally AnnCatalog.unregister(basePath)
  }

  test("SQL text form routes too") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      spark.read.parquet(dirs._1).createOrReplaceTempView("ann_base")
      val qv = qvecOf(11L)
      val lit = qv.map(v => s"CAST($v AS FLOAT)").mkString("array(", ",", ")")
      val df = spark.sql(
        s"SELECT id FROM ann_base ORDER BY l2_sq(vec, $lit), id LIMIT 10")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      assert(df.collect().length == 10)
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("projected distance answered from the search (DistSlot)") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(13L)
      val df = spark.read.parquet(dirs._1)
        .select(col("id"), VectorFunctions.l2Sq(col("vec"), typedLit(qv)).as("d"))
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .limit(10)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val rows = df.collect()
      assert(rows.length == 10)
      // returned distances are the exact fp32 values, ascending, and the
      // self-query's own row has distance 0
      val ds = rows.map(_.getDouble(1))
      assert(ds.sameElements(ds.sorted))
      assert(rows.exists(r => r.getLong(0) == 13L && r.getDouble(1) == 0.0))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("ORDER BY select-list alias routes (sort above project)") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      spark.read.parquet(dirs._1).createOrReplaceTempView("ann_base")
      val qv = qvecOf(17L)
      val lit = qv.map(v => s"CAST($v AS FLOAT)").mkString("array(", ",", ")")
      val df = spark.sql(
        s"SELECT id, l2_sq(vec, $lit) AS d FROM ann_base ORDER BY d, id LIMIT 10")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      val rows = df.collect()
      assert(rows.length == 10)
      assert(rows.exists(r => r.getLong(0) == 17L && r.getDouble(1) == 0.0))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("routed plan emits byte-identical rows to the unrouted plan, near-ties included") {
    val root = Files.createTempDirectory("graft_anntopk_tie").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val qv = Array.fill(dim)(0.5f)
    val rnd = new scala.util.Random(37)
    // near-tie fixture: exact duplicate vectors (distance ties broken
    // only by id) and permuted-coordinate triples (same multiset of
    // per-coordinate diffs — kernel lane-order accumulation can tie or
    // reorder them; the emit-time double loop must order them exactly
    // like the unrouted plan's L2SquaredDistance)
    val rows = Seq.newBuilder[(Long, Array[Float])]
    var id = 0L
    (0 until 12).foreach { g =>
      val dup = Array.tabulate(dim)(i => qv(i) + (g + 1) * 0.01f * (if (i % 3 == 0) 1 else -1))
      (0 until 3).foreach { _ => rows += ((id, dup.clone())); id += 1 }
      val diffs = Array(0.013f + g * 0.001f, 0.027f + g * 0.002f, 0.041f + g * 0.003f)
      (0 until 3).foreach { p =>
        val v = qv.clone()
        v(p) += diffs(p % 3); v((p + 1) % 3) += diffs((p + 1) % 3); v((p + 2) % 3) += diffs((p + 2) % 3)
        rows += ((id, v)); id += 1
      }
    }
    (0 until 80).foreach { _ =>
      rows += ((id, Array.fill(dim)(qv(0) + (rnd.nextFloat() - 0.5f) * 0.3f))); id += 1
    }
    rows.result().toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath), indexPath, numBuckets = 1)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 500)
    try {
      def q() = spark.read.parquet(basePath)
        .select(col("id"), VectorFunctions.l2Sq(col("vec"), typedLit(qv)).as("d"))
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .limit(40)
      val routedDf = q()
      assert(routedDf.queryExecution.executedPlan.toString.contains("AnnTopK"))
      val routed = routedDf.collect().map(r => (r.getLong(0), r.getDouble(1)))
      spark.conf.set("spark.graft.ann.autoRoute", "false")
      val unrouted =
        try {
          val df = q()
          assert(!df.queryExecution.executedPlan.toString.contains("AnnTopK"))
          df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        } finally spark.conf.unset("spark.graft.ann.autoRoute")
      assert(routed.map(_._1).toSet == unrouted.map(_._1).toSet,
        "membership differs — raise ef (index recall) before comparing order")
      assert(routed.sameElements(unrouted),
        s"row order/bytes differ:\nrouted:   ${routed.take(12).mkString(", ")}\n" +
          s"unrouted: ${unrouted.take(12).mkString(", ")}")
    } finally AnnCatalog.unregister(basePath)
  }

  test("stale index ids and NULL base vectors are dropped, not NPEs") {
    val root = Files.createTempDirectory("graft_anntopk_stale").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(41)
    val mk = () => Array.fill(dim)(rnd.nextFloat())
    val orig = Seq.tabulate(300)(i => (i.toLong, mk()))
    orig.toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(spark.read.parquet(basePath), indexPath, numBuckets = 1)
    // staleness: id 5 deleted, id 7's vector nulled, id 9's vector
    // REPLACED (by the query vector itself) AFTER the index build
    val qv = orig.find(_._1 == 5L).get._2
    val amended = orig.collect {
      case (i, _) if i == 7L => (i, null: Array[Float])
      case (i, _) if i == 9L => (i, qv)
      case (i, v) if i != 5L => (i, v)
    }
    amended.toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 400)
    try {
      // guard mode (the default) — pin it in case another suite flipped
      // the session into trust-the-index serving mode
      spark.conf.set("spark.graft.ann.trustIndex", "false")
      // the base now CONTAINS a null-vec row, so the bare statement must
      // NOT route (under default NULLS FIRST the exact plan ranks the
      // null row first — a row no routed plan can emit); the null-safe
      // form below is the one that routes and exercises the guard
      val bare = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(300)
      assert(!bare.queryExecution.executedPlan.toString.contains("AnnTopK"),
        "a base with null vectors must refuse the route under NULLS FIRST")
      val gotDf = spark.read.parquet(basePath)
        .filter(col("vec").isNotNull)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(300)
      assert(gotDf.queryExecution.executedPlan.toString.contains("AnnTopK"))
      val got = gotDf.collect().map(_.getLong(0))
      assert(!got.contains(5L) && !got.contains(7L))
      assert(got.nonEmpty)
      // guard mode re-distances against the CURRENT base vectors: id 9
      // now equals the query vector, so it must rank first even though
      // the index's stored snapshot has its old vector
      assert(got.head == 9L,
        s"guard mode must rank by current base vectors, got head ${got.head}")
      // trustIndex serving mode skips the validation job and so emits
      // whatever the index holds — stale id 5 included. That is the
      // documented contract of the knob, asserted so a future change
      // can't silently re-add a per-query base scan behind it.
      spark.conf.set("spark.graft.ann.trustIndex", "true")
      val trusted = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(300).collect().map(_.getLong(0))
      assert(trusted.contains(5L))
    } finally {
      spark.conf.unset("spark.graft.ann.trustIndex")
      AnnCatalog.unregister(basePath)
    }
  }

  test("redundant sort keys after the id tiebreak still route") {
    AnnCatalog.register(dirs._1, dirs._2, idCol = "id", vecCol = "vec", ef = 150)
    try {
      val qv = qvecOf(19L)
      val df = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"), col("vec"))
        .select("id")
        .limit(10)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("AnnTopK"), s"expected AnnTopK in:\n$physical")
      // a non-id second key must NOT route (ties could reorder the cut)
      val df2 = spark.read.parquet(dirs._1)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("vec"))
        .select("id")
        .limit(10)
      assert(!df2.queryExecution.executedPlan.toString.contains("AnnTopK"))
    } finally AnnCatalog.unregister(dirs._1)
  }

  test("user IS NOT NULL on a non-route column blocks routing; on the vec column it routes") {
    val root = Files.createTempDirectory("graft_anntopk_nn").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(11)
    Seq.tabulate(300) { i =>
      (i.toLong, if (i % 3 == 0) null else s"p$i", Array.fill(dim)(rnd.nextFloat()))
    }.toDF("id", "payload", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(
      spark.read.parquet(basePath).select("id", "vec"), indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 300)
    try {
      val qv = Array.fill(dim)(0.5f)
      // `payload IS NOT NULL` is a predicate the route cannot honor —
      // the old unwrap dropped EVERY IsNotNull and the routed plan
      // silently ignored it, returning null-payload rows the exact
      // plan excludes
      val blocked = spark.read.parquet(basePath)
        .filter(col("payload").isNotNull)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      assert(!blocked.queryExecution.executedPlan.toString.contains("AnnTopK"),
        "a non-vec IS NOT NULL must fall through to the exact plan")
      assert(blocked.collect().map(_.getLong(0)).forall(_ % 3 != 0),
        "the exact plan must actually apply the predicate")
      // `vec IS NOT NULL` the route honors by construction (it never
      // returns null-vec rows) — and it makes the statement null-safe,
      // so it must still route
      val routed = spark.read.parquet(basePath)
        .filter(col("vec").isNotNull)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(10)
      assert(routed.queryExecution.executedPlan.toString.contains("AnnTopK"),
        "vec IS NOT NULL must keep the route")
    } finally AnnCatalog.unregister(basePath)
  }

  test("a base containing null vectors refuses the route under default NULLS FIRST") {
    val root = Files.createTempDirectory("graft_anntopk_nullvec").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val indexPath = s"$root/index"
    val rnd = new scala.util.Random(13)
    (Seq((9999L, null: Array[Float])) ++ Seq.tabulate(300) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat()))
    }).toDF("id", "vec").write.mode("overwrite").parquet(basePath)
    AnnIndexStore.build(
      spark.read.parquet(basePath).filter(col("vec").isNotNull),
      indexPath, numBuckets = 2)
    AnnCatalog.register(basePath, indexPath, idCol = "id", vecCol = "vec", ef = 300)
    try {
      val qv = Array.fill(dim)(0.5f)
      val stmt = spark.read.parquet(basePath)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(3)
      // the exact plan under Spark's default ascending NULLS FIRST
      // returns the null-vec row FIRST — a row no routed plan can emit;
      // the measured null-freedom probe must refuse the route, and the
      // exact plan must serve the statement (discrepancy proof below)
      assert(!stmt.queryExecution.executedPlan.toString.contains("AnnTopK"),
        "a null-vec base must not route under default null ordering")
      assert(stmt.collect().map(_.getLong(0)).head == 9999L,
        "NULLS FIRST: the exact plan's first row is the null-vec row")
      // the explicit null filter restores routing
      val routed = spark.read.parquet(basePath)
        .filter(col("vec").isNotNull)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(3)
      assert(routed.queryExecution.executedPlan.toString.contains("AnnTopK"))
      assert(!routed.collect().map(_.getLong(0)).contains(9999L))
    } finally AnnCatalog.unregister(basePath)
  }
}
