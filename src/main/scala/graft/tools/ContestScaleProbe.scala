package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.AnnIndexStore
import graft.operators.{AnnJoin, KnnJoin, Selectivity}

/** The contest operating point, end-to-end, on synthetic data shaped
  * per FIXTURES.md §1: N base rows (label skewed, ts uniform, dim-100
  * vectors) and NQ hybrid queries (4 types, 25% each), run through the
  * build-once stored-index lifecycle (`AnnIndexStore`) — the same
  * composition as the `knn_stored` query, at the reference's scale
  * (hybrid_graph.cpp:152 runs 10M × 1M-class batches).
  *
  * Reports per-stage wall times (synthesize, 3 index builds, routing
  * stats pass, per-type search), driver heap after each stage (the
  * chunked feeds must keep it flat), and recall@k vs the exact oracle
  * on a query sample.
  *
  * Usage: runMain graft.tools.ContestScaleProbe [N] [NQ] [k] [ef]
  * Synthesized inputs and index tables are cached under
  * /tmp/graft_contest_scale_<N>_<NQ> and reused across runs.
  */
object ContestScaleProbe {

  private def heapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"STAGE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s (driver heap ${heapMb()} MB)")
    r
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val nq = if (args.length > 1) args(1).toLong else 1000000L
    val k = if (args.length > 2) args(2).toInt else 100
    val ef = if (args.length > 3) args(3).toInt else 400
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // "c" = clustered corpus (see synthesize_base): uniform-random
    // vectors are the known-adversarial regime for every ANN family
    // (distance concentration — measured by RecallLadderProbe:
    // recall@100 0.60 at ef=400 → 0.92 only at ef=3200 on 624k uniform
    // rows), while real embedding corpora are clustered. The cache root
    // is versioned so uniform-era tables are never silently reused.
    val root = s"/tmp/graft_contest_scale_c_${n}_$nq"

    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      // vectored parquet reads stage each giant graph-blob column chunk
      // through a same-sized temporary DIRECT buffer on the channel
      // path — see ContestRun.runScale's note; byte[]-path reads keep
      // 32 concurrent scan tasks inside MaxDirectMemorySize
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      // GRAFT_VECTORIZED_READER=false: row-by-row parquet reads for the
      // whole session — the rescue knob for blob stores written BEFORE
      // the one-row-per-row-group layout (their multi-blob row groups
      // make the vectorized reader materialize multi-hundred-MB
      // columnar batches; the 30M probe measured an 8-row 773 MB batch
      // request OOM). Costs ~2-3x on wide base scans, nothing on blob
      // scans (blobs are materialized whole either way). New-layout
      // stores don't need it.
      .config("spark.sql.parquet.enableVectorizedReader",
        sys.env.getOrElse("GRAFT_VECTORIZED_READER", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def exists(p: String) = new java.io.File(s"$p/_SUCCESS").exists()

    // ---- synthesize (ContestCorpus: skewed labels, mixture vectors —
    // the shared corpus definition keeps this probe and ContestRun's
    // binary lifecycle row-for-row twins) ----
    val basePath = s"$root/base"
    val queryPath = s"$root/queries"
    if (!exists(basePath)) timed("synthesize_base") {
      spark.range(0, n, 1, cpus.toInt * 4)
        .mapPartitions(_.map { id =>
          val (label, ts, vec) = ContestCorpus.baseRow(id)
          (id, label, ts, vec)
        })
        .toDF("id", "label", "ts", "vec")
        .write.mode("overwrite").parquet(basePath)
    }
    if (!exists(queryPath)) timed("synthesize_queries") {
      spark.range(0, nq, 1, cpus.toInt)
        .mapPartitions(_.map { i =>
          val (qtype, v, l, rr, qvec) = ContestCorpus.queryRow(i)
          (1000000000L + i, qtype, v, l, rr, qvec)
        })
        .toDF("qid", "qtype", "v", "l", "r", "qvec")
        .write.mode("overwrite").parquet(queryPath)
    }
    val base = spark.read.parquet(basePath)
    val queries = spark.read.parquet(queryPath)

    // ---- index builds (the build-once lifecycle) ----
    // Type-0 arm mirrors ContestRun.runScale: IVF by default (centroid
    // routing + tuned `_nprobe`; the walk-every-bucket hash arm is the
    // measured 5.5× scale-killer), GRAFT_CONTEST_T0=hash for A/B.
    // nlist scales with n to hold rows/list ≈ 80k (the 10M point's
    // 128-list geometry): constant per-probe walk cost is exactly the
    // IVF scale thesis the ladder exists to measure.
    val t0Mode = sys.env.getOrElse("GRAFT_CONTEST_T0", "ivf")
    // GRAFT_CONTEST_ONLY=<t0|t1|t2|t3>: run ONLY that arm's
    // build/tune/search flow, skipping even the OTHER arms' store
    // builds and tuner entries — the disk-frugal ladder mode the r13
    // verdict asked for (arms run sequentially across probe
    // invocations, each dropping its stores before the next, while the
    // cached per-arm RESULT parquet from earlier invocations still
    // joins the RESULTS/RECALL union below). The included-arm set is
    // printed on both lines, never silent.
    val onlyArm = sys.env.get("GRAFT_CONTEST_ONLY")
    require(onlyArm.forall(Set("t0", "t1", "t2", "t3")),
      s"GRAFT_CONTEST_ONLY=${onlyArm.get} is not one of t0|t1|t2|t3 — " +
        "a typo here would silently disable every arm and report stale " +
        "caches as a fresh measurement")
    def armOn(a: String): Boolean = onlyArm.forall(_ == a)
    val nlist = math.max(32, (n / 80000L).toInt)
    if (armOn("t0") && t0Mode != "ivf" && !exists(s"$root/by_hash")) timed("build_by_hash") {
      AnnIndexStore.build(base.select(col("id"), col("vec")),
        s"$root/by_hash", numBuckets = cpus.toInt)
    }
    if (armOn("t0") && t0Mode == "ivf" && !exists(s"$root/by_ivf/lists")) timed("build_by_ivf") {
      AnnIndexStore.buildIvf(base.select(col("id"), col("vec")),
        s"$root/by_ivf", nlist = nlist)
    }
    // GRAFT_CONTEST_SKIP_T1=1 drops the per-label store + its search +
    // its recall slice — the disk-bounded big-N ladder runs the three
    // arms the r12 verdict asked to scale (IVF t0, banded t2/t3); the
    // skip is recorded in the RESULTS/RECALL lines, never silent.
    val skipT1 = sys.env.get("GRAFT_CONTEST_SKIP_T1").contains("1") || !armOn("t1")
    // type-3 arm mode is read EARLY because its PLAIN variant searches
    // the by_label store: under GRAFT_CONTEST_ONLY=t3 (plain) the t1
    // flow is off, but the store the t3 plain arm reads must still
    // build — the ONLY contract is "that arm's flow", including its
    // store dependencies.
    val t3Mode = sys.env.getOrElse("GRAFT_CONTEST_T3", "banded")
    val skipT3 = sys.env.get("GRAFT_CONTEST_SKIP_T3").contains("1") || !armOn("t3")
    val needByLabel = !skipT1 || (!skipT3 && t3Mode == "plain")
    if (needByLabel && !exists(s"$root/by_label")) timed("build_by_label") {
      AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
        s"$root/by_label", "label", attrCol = Some("ts"))
    }
    // type-2 arm (see ContestRun.runScale): range = ts-contiguous fine
    // buckets (default), decile = the reference-shaped salted store
    val t2Mode = sys.env.getOrElse("GRAFT_CONTEST_T2", "range")
    val t2Scale = {
      val s = sys.env.getOrElse("GRAFT_CONTEST_T2_SCALE", "0").toInt
      if (s > 0) s else math.max(10, math.ceil(n / 200000.0).toInt)
    }
    if (armOn("t2") && t2Mode != "range" && !exists(s"$root/by_decile")) timed("build_by_decile") {
      AnnIndexStore.buildBy(
        base.withColumn("decile", floor(col("ts") * 10).cast("long")),
        s"$root/by_decile", "decile", attrCol = Some("ts"))
    }
    if (armOn("t2") && t2Mode == "range" && !exists(s"$root/by_range$t2Scale")) timed("build_by_range") {
      AnnIndexStore.buildBy(
        base.withColumn("bucket", floor(col("ts") * t2Scale).cast("long")),
        s"$root/by_range$t2Scale", "bucket", attrCol = Some("ts"))
    }
    // store-derived effort tables for the banded arms (see ContestRun)
    // reuse policy lives in EfTuner.tuneAndPersistBands (NO caller-side
    // sidecar guard — see its scaladoc); the stage line prints only
    // when a tune actually ran, so resumed runs' stage records stay
    // comparable across rounds
    def tuneBandsOnce(store: String, tag: String): Unit =
      ProbeHarness.tuneBandsOnce(spark, store, tag, queries, k, ef)
    if (armOn("t2") && t2Mode == "range") tuneBandsOnce(s"$root/by_range$t2Scale", "range")

    // ---- routing stats pass (selectivity grid + route decision) ----
    val routeHist = timed("route_stats_pass") {
      Selectivity.withRoutes(base, queries)
        .groupBy("route").agg(count(lit(1)).as("nq"))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    }
    println(s"ROUTES: $routeHist")

    // ---- per-type stored-index search, chunk-fed (each stage resumable:
    // a crash or code iteration only repays the unfinished stages).
    // Result stages are params-stamped: k/ef change the cached rows as
    // much as the arm modes already encoded in the stage names, and an
    // unstamped resume would report the OLD parameters' results under
    // the new run's labels (ProbeHarness) ----
    val outPath = s"$root/results"
    val searchParams = s"k=$k ef=$ef"
    import ProbeHarness.bandsTag
    import ProbeHarness.{freshFor, stamp}
    // tuned `_nprobe` sidecar on the IVF arm (shared protocol —
    // ProbeHarness.tunedNprobe — so this probe's and ContestRun's
    // receipts cannot drift)
    val t0Nprobe =
      if (armOn("t0")) ProbeHarness.tunedNprobe(spark, s"$root/by_ivf",
        t0Mode, queries, k, ef)
      else 0
    // tuned `_ivf_ef` sidecar, AFTER nprobe (the knobs compose:
    // routing first, the walk absorbs the residual loss)
    val t0Ef =
      if (armOn("t0")) ProbeHarness.tunedIvfEf(spark, s"$root/by_ivf",
        t0Mode, base, queries, k, ef, nprobe = t0Nprobe)
      else ef
    val t0Name = if (t0Mode == "ivf") "t0_ivf" else "t0"
    // "override" marks an A/B stamp: GRAFT_CONTEST_NPROBE/IVF_EF runs
    // measure a deliberately off-tuned operating point, and the
    // existence-union below must never average such a cache into a
    // fresh-measurement RECALL headline
    val t0Override =
      if (sys.env.contains("GRAFT_CONTEST_NPROBE") ||
        sys.env.contains("GRAFT_CONTEST_IVF_EF")) " override" else ""
    val t0Params =
      if (t0Mode == "ivf")
        s"$searchParams nprobe=$t0Nprobe ivfef=$t0Ef$t0Override"
      else searchParams
    if (armOn("t0") && !freshFor(s"$outPath/$t0Name", t0Params)) timed(s"search_type0_$t0Mode") {
      val q0 = queries.filter(col("qtype") === 0).select(col("qid"), col("qvec"))
      // the ivf arm is LIST-major: each blob is read once per batch
      if (t0Mode == "ivf")
        AnnIndexStore.searchIvfListMajorTo(spark, s"$root/by_ivf", q0,
          s"$outPath/$t0Name", k, t0Ef, nprobe = t0Nprobe)
      else
        // 50k chunks: per-chunk agg state (one bounded top-k heap per
        // qid per bucket task) is the heap high-water mark of the probe
        AnnIndexStore.searchChunked(spark, s"$root/by_hash", q0, k, ef,
            chunkRows = 50000)
          .write.mode("overwrite").parquet(s"$outPath/$t0Name")
      stamp(s"$outPath/$t0Name", t0Params)
    }
    if (!skipT1 && !freshFor(s"$outPath/t1", searchParams)) timed("search_type1_label") {
      AnnIndexStore.searchBy(spark, s"$root/by_label",
          queries.filter(col("qtype") === 1).select(col("qid"), col("v"), col("qvec")), k, ef)
        .write.mode("overwrite").parquet(s"$outPath/t1")
      stamp(s"$outPath/t1", searchParams)
    }
    val t2Name = if (t2Mode == "range") s"t2_range$t2Scale" else "t2"
    val t2Params =
      if (t2Mode == "range") s"$searchParams bands=${bandsTag(s"$root/by_range$t2Scale")}"
      else searchParams
    if (armOn("t2") && !freshFor(s"$outPath/$t2Name", t2Params)) timed(s"search_type2_$t2Mode") {
      val q2 = queries.filter(col("qtype") === 2)
        .select(col("qid"), col("l"), col("r"), col("qvec"))
      val r2 =
        if (t2Mode == "range")
          AnnIndexStore.searchDecileRange(spark, s"$root/by_range$t2Scale", q2, k, ef,
            scale = t2Scale, efBands = true)
        else
          AnnIndexStore.searchDecileRange(spark, s"$root/by_decile", q2, k, ef)
      r2.write.mode("overwrite").parquet(s"$outPath/$t2Name")
      stamp(s"$outPath/$t2Name", t2Params)
    }
    // type-3 arm (see ContestRun.runScale): banded = ts-contiguous label
    // salting + banded searchByRange (default), plain = hash-salted
    // exact-effort arm for A/B
    val t3Name = if (t3Mode == "banded") "t3_banded" else "t3"
    // GRAFT_CONTEST_SKIP_T3=1: same disk-bounded contract as skipT1 —
    // the biggest-N ladder points may not fit base + four blob stores
    // + build-sort spill on one box (the 30M run had 5 GB free when
    // the label_ts build's window sort started); the skip is marked on
    // every results/recall line, never silent.
    if (!skipT3 && t3Mode == "banded" && !exists(s"$root/by_label_ts")) timed("build_by_label_ts") {
      AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
        s"$root/by_label_ts", "label", attrCol = Some("ts"), attrSalted = true)
    }
    if (!skipT3 && t3Mode == "banded") tuneBandsOnce(s"$root/by_label_ts", "label_ts")
    val t3Params =
      if (t3Mode == "banded") s"$searchParams bands=${bandsTag(s"$root/by_label_ts")}"
      else searchParams
    if (!skipT3 && !freshFor(s"$outPath/$t3Name", t3Params)) timed(s"search_type3_$t3Mode") {
      val q3 = queries.filter(col("qtype") === 3)
        .select(col("qid"), col("v"), col("l"), col("r"), col("qvec"))
      val r3 =
        if (t3Mode == "banded")
          AnnIndexStore.searchByRange(spark, s"$root/by_label_ts", q3, k, ef,
            efBands = true)
        else
          AnnIndexStore.searchByRange(spark, s"$root/by_label", q3, k, ef)
      r3.write.mode("overwrite").parquet(s"$outPath/$t3Name")
      stamp(s"$outPath/$t3Name", t3Params)
    }
    // Union every arm whose RESULT parquet exists — this run's fresh
    // stages AND earlier invocations' cached stages (the sequential
    // disk-frugal mode: an arm's stores may be gone while its stamped
    // results stand). The included set is printed; a qtype with no
    // results is excluded from the recall sample, never silently
    // counted as misses.
    val armPaths = Seq(
      (0, s"$outPath/$t0Name"), (1, s"$outPath/t1"),
      (2, s"$outPath/$t2Name"), (3, s"$outPath/$t3Name"))
    // Stamp-checked (read-only — freshFor would DELETE a mismatched
    // cache, which is the active arm's job alone): a cached arm joins
    // the union only if (a) its `_stage_params` match this run's k/ef
    // exactly or as a "params + space" delimited prefix (a bare
    // startsWith would let ef=400 match ef=40), (b) the stamp carries
    // no A/B "override" marker, and (c) when the arm's STORE is still
    // on disk, the stamp's store-derived knob tokens (nprobe/ivfef/
    // bands fingerprints) equal the live sidecars' — a bands protocol
    // bump or a re-tuned probe count changes result rows at the same
    // k/ef. A store-absent suffix is accepted with a loud
    // "UNVERIFIED" note (the disk-frugal ladder drops stores between
    // arms); anything else is EXCLUDED loudly, never silently
    // averaged into the recall (the 100k rehearsal cache carried
    // exactly such a pre-protocol t3 dir, recall 0.13).
    def cachedArmOk(t: Int, p: String): Boolean = {
      val f = new java.io.File(p, "_stage_params")
      if (!f.exists()) {
        println(s"ARM t$t cached results at $p EXCLUDED: no _stage_params stamp")
        return false
      }
      val st = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      if (st.contains("override")) {
        println(s"ARM t$t cached results at $p EXCLUDED: A/B-override stamp '$st'")
        return false
      }
      if (!(st == searchParams || st.startsWith(searchParams + " "))) {
        println(s"ARM t$t cached results at $p EXCLUDED: stamp '$st' does " +
          s"not match this run's '$searchParams'")
        return false
      }
      val expectedToks: Option[Seq[String]] = t match {
        case 0 if t0Mode == "ivf" && exists(s"$root/by_ivf/lists") =>
          Some(Seq(
            s"nprobe=${AnnIndexStore.resolveNprobe(s"$root/by_ivf", AnnIndexStore.AutoNprobe)}",
            s"ivfef=${AnnIndexStore.ivfEfOf(s"$root/by_ivf").getOrElse(ef)}"))
        case 2 if t2Mode == "range" && exists(s"$root/by_range$t2Scale") =>
          Some(Seq(s"bands=${bandsTag(s"$root/by_range$t2Scale")}"))
        case 3 if t3Mode == "banded" && exists(s"$root/by_label_ts") =>
          Some(Seq(s"bands=${bandsTag(s"$root/by_label_ts")}"))
        case _ => None
      }
      expectedToks match {
        case None =>
          if (st != searchParams)
            println(s"ARM t$t cached results accepted with UNVERIFIED " +
              s"suffix (store absent): '$st'")
          true
        case Some(toks) =>
          val stToks = st.split(" ").toSet
          val ok = toks.forall(stToks.contains)
          if (!ok) println(s"ARM t$t cached results at $p EXCLUDED: stamp " +
            s"'$st' does not match the store's current sidecars " +
            s"(${toks.mkString(" ")})")
          ok
      }
    }
    val included = armPaths.filter { case (t, p) => exists(p) && cachedArmOk(t, p) }
    require(included.nonEmpty, "no per-arm results on disk — nothing to union")
    val includedTypes = included.map(_._1).toSet
    val results = included.map(p => spark.read.parquet(p._2)).reduce(_.unionByName(_))
    val nRes = results.count()
    val armNote = s" [arms: ${included.map(p => s"t${p._1}").mkString(",")}" +
      (if (includedTypes.size < 4) " — others ABSENT/SKIPPED]" else "]")
    println(s"RESULTS: $nRes rows (${nRes / math.max(k, 1)} answered queries)$armNote")

    // ---- recall vs the exact oracle on a deterministic sample ----
    timed("recall_sample") {
      val sample = queries.filter(col("qid") % 1009 === 0)
        .filter(col("qtype").isin(includedTypes.toSeq.map(Integer.valueOf): _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSample = sample.count()
      // persist the brute-force oracle: the overall + 4 per-type recall
      // joins would otherwise recompute the 10M-row exact pass 5×
      // (measured: 1506 s of the first probe run's recall stage)
      val exact = KnnJoin.exactFlat(base, sample, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sampleIds = sample.select("qid")
      val approx = results.join(broadcast(sampleIds), "qid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val recall = AnnJoin.recallAtK(approx, exact)
      // per-type recall, same join
      val perType = sample.select(col("qid"), col("qtype")).collect()
        .groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (t, rows) =>
          val ids = rows.map(_.getLong(0)).toSet
          val idsDf = ids.toSeq.toDF("qid")
          val r = AnnJoin.recallAtK(
            approx.join(broadcast(idsDf), "qid"),
            exact.join(broadcast(idsDf), "qid"))
          f"type$t=$r%.4f(${rows.length})"
        }.mkString(" ")
      // the skip marker rides the RECALL line too: the headline number
      // over a 3-type mix must never be compared to a 4-type round's
      // without the flag in view
      println(f"RECALL@$k over $nSample queries: ${recall}%.4f [$perType]$armNote")
      sample.unpersist(); exact.unpersist(); approx.unpersist()
    }
    println(s"FINAL driver heap: ${heapMb()} MB")
    spark.stop()
  }
}
