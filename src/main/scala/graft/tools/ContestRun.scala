package graft.tools

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.AnnIndexStore
import graft.operators.{AnnJoin, HybridKnn, KnnJoin, Selectivity}
import graft.sources.ContestBinaryIO

/** The contest lifecycle end-to-end over the contest's own BINARY
  * formats — the Spark equivalent of the reference's `hybrid_search`
  * binary (baseline.cpp:27-171): read the binary base + query files,
  * run the routed BatchSearch, write `output.bin` (io.h:22-33), and
  * score recall against the exact oracle (generate_groundtruth +
  * GetKNNRecall, utils.h:80-253).
  *
  * Three modes:
  *
  *   runMain graft.tools.ContestRun [dataPath queryPath outPath k]
  *     In-process composition on small inputs (defaults: the
  *     reference's checked-in dummy 10k × 100 workload) — indexes are
  *     built on the fly inside [[HybridKnn]], like the reference's
  *     single binary.
  *
  *   runMain graft.tools.ContestRun gen N NQ basePath queryPath
  *     Synthesize contest-format binaries at scale from the shared
  *     [[ContestCorpus]] (the same rows as ContestScaleProbe's parquet
  *     corpus). Partitions write disjoint row ranges of the pre-sized
  *     file via positioned channel writes — single-node parallel; on a
  *     real cluster each range would be a part-object on shared storage
  *     concatenated by manifest, same layout.
  *
  *   runMain graft.tools.ContestRun scale basePath queryPath outPath [k] [ef]
  *     The full-scale lifecycle (10M × 1M = the reference's "large"
  *     operating point, hybrid_graph.cpp:152): binary ingest →
  *     build-once stored indexes (hash / label / decile, the same
  *     build the reference does at baseline.cpp:66-96) → routed
  *     per-type chunked search → `output.bin` in qid order → sampled
  *     recall@k vs the exact oracle. Stages cache under
  *     /tmp/graft_contest_bin_* and resume. At 10M run with
  *     SPARK_DRIVER_MEM=84g GRAFT_JAVA_OPTS="-XX:MaxDirectMemorySize=20g
  *     -Djdk.nio.maxCachedBufferSize=262144" (BASELINE.md Run B notes).
  */
object ContestRun {

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

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val n = args(1).toLong
      val nq = args(2).toLong
      genBinaries(n, nq, args(3), args(4))
    case Some("scale") =>
      val k = if (args.length > 4) args(4).toInt else 100
      val ef = if (args.length > 5) args(5).toInt else 400
      runScale(args(1), args(2), args(3), k, ef)
    case _ => runSmall(args)
  }

  // ---------------------------------------------------------------- gen

  /** Rows/flush buffer: 4096 rows ≈ 1.6 MB base / 1.7 MB query. */
  private val flushRows = 4096

  def genBinaries(n: Long, nq: Long, basePath: String, queryPath: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    timed("gen_base_bin") {
      writeBinaryParallel(spark, basePath, n, (2 + ContestCorpus.dim) * 4, cpus * 4) {
        (id, bb) =>
          val (label, ts, vec) = ContestCorpus.baseRow(id)
          bb.putFloat(label.toFloat); bb.putFloat(ts.toFloat)
          var d = 0
          while (d < vec.length) { bb.putFloat(vec(d)); d += 1 }
      }
    }
    timed("gen_query_bin") {
      writeBinaryParallel(spark, queryPath, nq, (4 + ContestCorpus.dim) * 4, cpus) {
        (i, bb) =>
          val (qtype, v, l, r, qvec) = ContestCorpus.queryRow(i)
          bb.putFloat(qtype.toFloat); bb.putFloat(v.toFloat)
          bb.putFloat(l.toFloat); bb.putFloat(r.toFloat)
          var d = 0
          while (d < qvec.length) { bb.putFloat(qvec(d)); d += 1 }
      }
    }
    println(s"GEN: $basePath (${new File(basePath).length()} B), " +
      s"$queryPath (${new File(queryPath).length()} B)")
    spark.stop()
  }

  /** Each task fills a contiguous row range of the pre-sized file with
    * positioned writes — no coordination, no shuffle; ids are ordinals. */
  private[tools] def writeBinaryParallel(spark: SparkSession, path: String, n: Long,
      rowBytes: Int, parts: Int)(fill: (Long, ByteBuffer) => Unit): Unit = {
    require(n <= Int.MaxValue, s"contest header is uint32: n=$n")
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(4L + n * rowBytes)
      val hb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      hb.putInt(n.toInt)
      raf.seek(0); raf.write(hb.array())
    } finally raf.close()
    val rows = spark.range(0, n, 1, parts).rdd.mapPartitions { it =>
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.allocate(rowBytes * flushRows).order(ByteOrder.LITTLE_ENDIAN)
        var bufStart = -1L // first id currently buffered
        var count = 0L
        def flush(): Unit = if (buf.position() > 0) {
          buf.flip()
          var pos = 4L + bufStart * rowBytes
          while (buf.hasRemaining) pos += ch.write(buf, pos)
          buf.clear()
          bufStart = -1L
        }
        it.foreach { id =>
          if (bufStart < 0) bufStart = id
          fill(id, buf)
          count += 1
          if (!buf.hasRemaining || buf.position() + rowBytes > buf.capacity()) flush()
        }
        flush()
        Iterator.single(count)
      } finally ch.close()
    }.reduce(_ + _)
    require(rows == n, s"wrote $rows of $n rows")
  }

  // -------------------------------------------------------------- scale

  def runScale(basePath: String, queryPath: String, outPath: String,
      k: Int, ef: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      // Parquet 1.16 defaults Hadoop vectored IO ON; on a local
      // filesystem each multi-hundred-MB consecutive part (one stored
      // graph blob's column chunk) is read through a channel into a
      // heap buffer, and the JDK channel path stages that through a
      // TEMPORARY DIRECT buffer of the SAME size (sun.nio.ch.Util;
      // jdk.nio.maxCachedBufferSize bounds only the cache, not the
      // allocation). 32 concurrent scan tasks × ~650 MB transient
      // direct = the "Cannot reserve direct buffer" crash that forced
      // the r9 run to 16 threads. The non-vectored path reads via plain
      // byte[] — no direct staging, same data.
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

    val root = "/tmp/graft_contest_bin_" +
      s"${new File(basePath).getName.replace('.', '_')}_${new File(basePath).length()}"
    def exists(p: String) = new File(s"$p/_SUCCESS").exists()

    // ---- binary ingest: parse once, materialize columnar (the
    // reference's load-to-RAM step, baseline.cpp:45-52; every build and
    // the exact oracle then scan parquet instead of re-parsing rows) ----
    if (!exists(s"$root/base")) timed("ingest_binary_base") {
      ContestBinaryIO.readBase(spark, basePath, ContestCorpus.dim, cpus * 4)
        .write.mode("overwrite").parquet(s"$root/base")
    }
    if (!exists(s"$root/queries")) timed("ingest_binary_queries") {
      ContestBinaryIO.readQueries(spark, queryPath, ContestCorpus.dim, cpus)
        .write.mode("overwrite").parquet(s"$root/queries")
    }
    val base = spark.read.parquet(s"$root/base")
    val queries = spark.read.parquet(s"$root/queries")
    val nBase = base.count()
    println(s"INGESTED: base=$nBase queries=${queries.count()}")

    // Type-2 routing arm: "range" (default) serves from ts-contiguous
    // fine buckets — one unsalted ~200k-row graph per bucket, so a
    // range walks only the buckets it overlaps (banded ef, quantized
    // small-slice scans). GRAFT_CONTEST_T2=decile keeps the
    // reference-shaped salted decile store for A/B: its hash salting
    // makes every partial range walk ALL of a decile's sub-graphs —
    // the measured r9 type-2 wall (1326 s vs type-1's 80 s).
    val t2Mode = sys.env.getOrElse("GRAFT_CONTEST_T2", "range")
    val t2Scale = {
      val s = sys.env.getOrElse("GRAFT_CONTEST_T2_SCALE", "0").toInt
      if (s > 0) s else math.max(10, math.ceil(nBase / 200000.0).toInt)
    }
    val t2Name = if (t2Mode == "range") s"t2_range$t2Scale" else "t2"

    // derive the banded arms' effort tables from the stores themselves
    // (EfTuner.tuneAndPersistBands — the reference's per-dataset
    // SearchParams sweep, tuned at the gate's own recall bar so the
    // tables can only trade effort at EQUAL recall target)
    // reuse policy lives in EfTuner.tuneAndPersistBands (NO caller-side
    // sidecar guard — see its scaladoc); the stage line prints only
    // when a tune actually ran, so resumed runs' stage records stay
    // comparable across rounds
    def tuneBandsOnce(store: String, tag: String): Unit =
      ProbeHarness.tuneBandsOnce(spark, store, tag, queries, k, ef)

    // ---- build-once stored indexes (baseline.cpp:66-96) ----
    // Type-0 default is the IVF arm: the walk-every-bucket hash arm is
    // 5.5× slower at the same config (1543.6 vs 281.5 s at 10M,
    // BASELINE.md) and its amplification grows with bucket count — the
    // reference never walks all sub-indexes for type 0 either, it
    // pools bounded candidates per decile (hybrid_graph.cpp:306-333).
    // GRAFT_CONTEST_T0=hash keeps the exhaustive arm as opt-in A/B;
    // its store is only built when that arm is selected.
    val t0Mode = sys.env.getOrElse("GRAFT_CONTEST_T0", "ivf")
    if (t0Mode != "ivf" && !exists(s"$root/by_hash")) timed("build_by_hash") {
      AnnIndexStore.build(base.select(col("id"), col("vec")),
        s"$root/by_hash", numBuckets = cpus)
    }
    if (!exists(s"$root/by_label")) timed("build_by_label") {
      AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
        s"$root/by_label", "label", attrCol = Some("ts"))
    }
    // Type-3 serving arm (the t2 rework's ingredients on the
    // label+range path): ts-CONTIGUOUS salting of oversized labels +
    // the banded searchByRange (range-skip, plain full-cover walks,
    // quantized slice scans). GRAFT_CONTEST_T3=plain keeps the r8-r10
    // hash-salted exact-effort arm for A/B; caches are arm-separated.
    val t3Mode = sys.env.getOrElse("GRAFT_CONTEST_T3", "banded")
    val t3Name = if (t3Mode == "banded") "t3_banded" else "t3"
    if (t3Mode == "banded" && !exists(s"$root/by_label_ts")) timed("build_by_label_ts") {
      AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
        s"$root/by_label_ts", "label", attrCol = Some("ts"), attrSalted = true)
    }
    if (t3Mode == "banded") tuneBandsOnce(s"$root/by_label_ts", "label_ts")
    if (t2Mode != "range" && !exists(s"$root/by_decile")) timed("build_by_decile") {
      AnnIndexStore.buildBy(
        base.withColumn("decile", floor(col("ts") * 10).cast("long")),
        s"$root/by_decile", "decile", attrCol = Some("ts"))
    }
    if (t2Mode == "range" && !exists(s"$root/by_range$t2Scale")) timed("build_by_range") {
      AnnIndexStore.buildBy(
        base.withColumn("bucket", floor(col("ts") * t2Scale).cast("long")),
        s"$root/by_range$t2Scale", "bucket", attrCol = Some("ts"))
    }
    if (t2Mode == "range") tuneBandsOnce(s"$root/by_range$t2Scale", "range")

    // ---- routing stats pass (hybrid_graph.cpp:168-230) ----
    val routeHist = timed("route_stats_pass") {
      Selectivity.withRoutes(base, queries)
        .groupBy("route").agg(count(lit(1)).as("nq"))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    }
    println(s"ROUTES: $routeHist")

    // ---- per-type stored-index search, chunk-fed (each stage
    // resumable; same composition as ContestScaleProbe) ----
    // Type-0 routing arm: IVF by default (centroid-probed, nprobe
    // lists per query — 5.5× over the hash arm at 10M, BASELINE.md);
    // GRAFT_CONTEST_T0=hash opts into the walk-every-bucket exhaustive
    // arm (the reference's single-full-graph composition) for A/B.
    // Separate result caches so the two arms coexist and t1-t3 results
    // are reused across arms.
    val resPath = s"$root/results"
    // result stages are params-stamped (ProbeHarness): k/ef (and the
    // t0 arm's nprobe) change the cached rows as much as the arm modes
    // already encoded in the stage names — an unstamped resume would
    // write output.bin and print recall from the PREVIOUS parameters
    val searchParams = s"k=$k ef=$ef"
    import ProbeHarness.{freshFor, stamp}
    val t0Name = if (t0Mode == "ivf") "t0_ivf" else "t0"
    // guard on lists/_SUCCESS: buildIvf writes parquet under
    // centroids/ and lists/, never at the store root itself
    if (t0Mode == "ivf" && !exists(s"$root/by_ivf/lists")) timed("build_by_ivf") {
      AnnIndexStore.buildIvf(base.select(col("id"), col("vec")),
        s"$root/by_ivf", nlist = 128)
    }
    // nprobe: tuned from the store's own lists by default (the last
    // hand-set effort knob on the slowest arm — measured routing-recall
    // ladder, `_nprobe` sidecar, tune-once; shared protocol in
    // ProbeHarness.tunedNprobe so ContestScaleProbe's receipts match).
    val t0Nprobe = ProbeHarness.tunedNprobe(spark, s"$root/by_ivf",
      t0Mode, queries, k, ef)
    // tuned `_ivf_ef` walk ef, AFTER nprobe (shared protocol —
    // ProbeHarness.tunedIvfEf — so both lifecycle tools' receipts match)
    val t0Ef = ProbeHarness.tunedIvfEf(spark, s"$root/by_ivf",
      t0Mode, base, queries, k, ef, nprobe = t0Nprobe)
    val t0Override =
      if (sys.env.contains("GRAFT_CONTEST_NPROBE") ||
        sys.env.contains("GRAFT_CONTEST_IVF_EF")) " override" else ""
    val t0Params =
      if (t0Mode == "ivf")
        s"$searchParams nprobe=$t0Nprobe ivfef=$t0Ef$t0Override"
      else searchParams
    if (!freshFor(s"$resPath/$t0Name", t0Params)) timed(s"search_type0_$t0Mode") {
      val q0 = queries.filter(col("qtype") === 0).select(col("qid"), col("qvec"))
      // ...To forms: narrow (qid, rank, nid) results go straight to
      // parquet — no localCheckpoint blocks accumulate across the feed;
      // the ivf arm is LIST-major: each blob is read once per batch
      if (t0Mode == "ivf")
        AnnIndexStore.searchIvfListMajorTo(spark, s"$root/by_ivf", q0,
          s"$resPath/$t0Name", k, t0Ef, nprobe = t0Nprobe)
      else
        AnnIndexStore.searchChunkedTo(spark, s"$root/by_hash", q0,
          s"$resPath/$t0Name", k, ef, chunkRows = 50000)
      stamp(s"$resPath/$t0Name", t0Params)
    }
    if (!freshFor(s"$resPath/t1", searchParams)) timed("search_type1_label") {
      AnnIndexStore.searchBy(spark, s"$root/by_label",
          queries.filter(col("qtype") === 1).select(col("qid"), col("v"), col("qvec")), k, ef)
        .write.mode("overwrite").parquet(s"$resPath/t1")
      stamp(s"$resPath/t1", searchParams)
    }
    // banded stamps carry the served table's fingerprint (the shared
    // ProbeHarness.bandsTag rule — see ContestScaleProbe): a bands
    // re-tune must re-run the stage, not serve the pre-bump cache
    val t2Params =
      if (t2Mode == "range") s"$searchParams bands=${ProbeHarness.bandsTag(s"$root/by_range$t2Scale")}"
      else searchParams
    if (!freshFor(s"$resPath/$t2Name", t2Params)) timed(s"search_type2_$t2Mode") {
      val q2 = queries.filter(col("qtype") === 2)
        .select(col("qid"), col("l"), col("r"), col("qvec"))
      val r2 =
        if (t2Mode == "range")
          AnnIndexStore.searchDecileRange(spark, s"$root/by_range$t2Scale", q2, k, ef,
            scale = t2Scale, efBands = true)
        else
          AnnIndexStore.searchDecileRange(spark, s"$root/by_decile", q2, k, ef)
      r2.write.mode("overwrite").parquet(s"$resPath/$t2Name")
      stamp(s"$resPath/$t2Name", t2Params)
    }
    val t3Params =
      if (t3Mode == "banded") s"$searchParams bands=${ProbeHarness.bandsTag(s"$root/by_label_ts")}"
      else searchParams
    if (!freshFor(s"$resPath/$t3Name", t3Params)) timed(s"search_type3_$t3Mode") {
      val q3 = queries.filter(col("qtype") === 3)
        .select(col("qid"), col("v"), col("l"), col("r"), col("qvec"))
      val r3 =
        if (t3Mode == "banded")
          AnnIndexStore.searchByRange(spark, s"$root/by_label_ts", q3, k, ef,
            efBands = true)
        else
          AnnIndexStore.searchByRange(spark, s"$root/by_label", q3, k, ef)
      r3.write.mode("overwrite").parquet(s"$resPath/$t3Name")
      stamp(s"$resPath/$t3Name", t3Params)
    }
    val results = spark.read.parquet(s"$resPath/$t0Name")
      .unionByName(spark.read.parquet(s"$resPath/t1"))
      .unionByName(spark.read.parquet(s"$resPath/$t2Name"))
      .unionByName(spark.read.parquet(s"$resPath/$t3Name"))

    // A/B arm re-runs only need the per-stage walls above; the binary
    // emit + sampled recall (≈8 min) re-verify the SAME lifecycle tail
    // every time, so arm sweeps can skip them
    if (sys.env.get("GRAFT_CONTEST_SKIP_TAIL").contains("1")) {
      println("SKIP_TAIL: stage walls recorded, output/recall skipped")
      spark.stop(); return
    }

    // ---- output.bin (io.h:22-33): one k-block of uint32 per query, in
    // qid order. Neighbor lists are assembled by a partition-local sort
    // + run grouping (collect_list's ObjectHashAggregate trips its
    // 128-key/task sort fallback at 1M groups — the measured cliff in
    // BASELINE.md's 20M dedup decomposition), and every qid is emitted
    // even with zero matches (writeKnn pads with -1) — a dropped row
    // would misalign every later block of the flat file. ----
    timed("write_output_bin") {
      val nested = results.select(col("qid"), col("rank"), col("nid"))
        .repartition(cpus * 2, col("qid"))
        .sortWithinPartitions("qid", "rank")
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          val rows = it.buffered
          new Iterator[(Long, Seq[Long])] {
            def hasNext: Boolean = rows.hasNext
            def next(): (Long, Seq[Long]) = {
              val qid = rows.head._1
              val nb = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (rows.hasNext && rows.head._1 == qid) nb += rows.next()._3
              (qid, nb.toSeq)
            }
          }
        }
        .toDF("qid", "neighbors")
      val allQ = queries.select(col("qid")).join(nested, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("neighbors"), array().cast("array<long>")).as("neighbors"))
      ContestBinaryIO.writeKnn(allQ, outPath, k)
    }
    println(s"OUTPUT: $outPath (${new File(outPath).length()} B)")

    // ---- recall vs the exact oracle on a deterministic sample ----
    timed("recall_sample") {
      val sample = queries.filter(col("qid") % 1009 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSample = sample.count()
      val exact = KnnJoin.exactFlat(base, sample, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val approx = results.join(broadcast(sample.select("qid")), "qid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val recall = AnnJoin.recallAtK(approx, exact)
      val perType = sample.select(col("qid"), col("qtype")).collect()
        .groupBy(_.getInt(1)).toSeq.sortBy(_._1).map { case (t, rows) =>
          val idsDf = rows.map(_.getLong(0)).toSeq.toDF("qid")
          val r = AnnJoin.recallAtK(
            approx.join(broadcast(idsDf), "qid"),
            exact.join(broadcast(idsDf), "qid"))
          f"type$t=$r%.4f(${rows.length})"
        }.mkString(" ")
      println(f"RECALL@$k over $nSample queries: $recall%.4f [$perType]")
      sample.unpersist(); exact.unpersist(); approx.unpersist()
    }
    println(s"FINAL driver heap: ${heapMb()} MB")
    spark.stop()
  }

  // -------------------------------------------------------------- small

  private def runSmall(args: Array[String]): Unit = {
    val dataPath = if (args.length > 0) args(0) else "/root/reference/dummy-data.bin"
    val queryPath = if (args.length > 1) args(1) else "/root/reference/dummy-queries.bin"
    val outPath = if (args.length > 2) args(2) else "/tmp/graft_contest_output.bin"
    val k = if (args.length > 3) args(3).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var t0 = System.nanoTime()
    // ingest through the DSv2 source (ContestBinarySource) — the scan
    // plans its own row-range partitions and prunes columns; parity with
    // the V1 reader is spec-asserted (ContestBinarySourceSpec)
    val base = spark.read.format("contest-bin").option("kind", "base")
      .option("partitions", cpus).load(dataPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = spark.read.format("contest-bin").option("kind", "query")
      .option("partitions", "2").load(queryPath)
    val nb = base.count(); val nq = queries.count()
    println(f"READ: base=$nb queries=$nq in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // routed approximate BatchSearch (the production configuration)
    t0 = System.nanoTime()
    val ann = HybridKnn.execute(base, queries, k, ann = true,
      annEf = 400, annBuckets = math.max(2, (nb / 4096).toInt))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nres = ann.count()
    println(f"SEARCH(ann): $nres rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    t0 = System.nanoTime()
    val nested = ann.groupBy("qid").agg(
      expr("transform(array_sort(collect_list(struct(rank, nid))), x -> x.nid)")
        .as("neighbors"))
    val allQ = queries.select(col("qid")).join(nested, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("neighbors"), array().cast("array<long>")).as("neighbors"))
    ContestBinaryIO.writeKnn(allQ, outPath, k)
    println(f"WRITE: $outPath in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // exact oracle + mean recall@k (GetKNNRecall)
    t0 = System.nanoTime()
    val exact = KnnJoin.exactFlat(base, queries, k)
    val recall = AnnJoin.recallAtK(ann, exact)
    println(f"RECALL@$k vs exact oracle: $recall%.4f (in ${(System.nanoTime() - t0) / 1e9}%.1f s)")
    spark.stop()
  }
}
