package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.TypeStores
import graft.multimodal.Multimodal
import graft.operators.SimilaritySearch
import graft.streaming.EventPipeline

/** Approximate / streaming / multimodal coverage. EVERY entry is
  * hash-checked by a DuckDB oracle — including the approximate ones:
  * deterministic seeding (hash-picked IVF lists and PQ codebooks,
  * md5-derived LSH planes, exhaustive-grade walks at sf scale) makes
  * the approximate pipelines exactly replayable in SQL. The two tuner
  * entries (`ann_ef_tune`, `ann_ef_bands`) measure recall ladders no
  * SQL engine can replay; their oracles instead PIN the deterministic
  * output as golden values (the reference's own golden-output testing,
  * utils.h:168-221 — valid because tuning is a pure function of the
  * pinned seed-42 corpus), while in-query requires keep the semantic
  * teeth (recall target met at the chosen rung/factor, run-over-run
  * determinism, sidecar codec round-trip). Quality floors for the
  * non-seeded quality paths live in HnswSpec / SimilaritySearchSpec /
  * CategoryAnnSpec.
  */
object ApproxQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** ann_delta_knn's one-time build (main graphs over 4/5 of the
    * corpus + the un-indexed last fifth as a delta), factored out so
    * the bench's pre-pass can overlap it with the other builder
    * queries' ensure blocks (disjoint store roots; guide §2.6).
    * Idempotent: a committed store+delta is skipped. */
  def ensureDeltaStore(s: SparkSession, dir: String): String = {
    val idxPath = StorePaths.taggedPath(s, "/tmp/graft_ann_delta", dir)
    val e = emb(s, dir).select(col("vec_id").cast("long").as("id"),
      col("embedding").as("vec"))
    if (!new java.io.File(s"$idxPath/_SUCCESS").exists() ||
        !new java.io.File(graft.index.AnnIndexStore.deltaPath(idxPath), "_SUCCESS").exists()) {
      graft.index.AnnIndexStore.build(e.filter(col("id") % 5 =!= 0), idxPath,
        numBuckets = 4)
      graft.index.AnnIndexStore.replaceDelta(e.filter(col("id") % 5 === 0), idxPath)
    }
    idxPath
  }

  /** The tuner gates' ONE deterministic driver-bounded vector sample:
    * a vec_id stride sized from the parquet footer count (no gating
    * job), with an ordered-top-N fallback for sparse/offset id spaces
    * where the modulo filter goes thin — two drifted copies of this
    * selection would tune the two gates on different samples with no
    * error. Sorted by vec_id so the sample is independent of
    * partition/file enumeration order. */
  private def stridedSample(s: SparkSession, dir: String,
      maxSample: Long): Array[Array[Float]] = {
    val n = graft.sources.ParquetMeta.rowCount(s, s"$dir/embeddings.parquet")
    val stride = math.max(1L, (n + maxSample - 1) / maxSample)
    val strided = emb(s, dir)
      .select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id") % stride === 0)
      .collect()
    val picked =
      if (strided.length >= math.min(64L, maxSample)) strided
      else emb(s, dir).select(col("vec_id").cast("long"), col("embedding"))
        .orderBy(col("vec_id")).limit(maxSample.toInt).collect()
    require(picked.nonEmpty, s"tuner sample: embeddings table at $dir is empty")
    picked.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
  }

  /** The route pack's type-0 hash-bucket store (built if missing). */
  private def routeHashStore(s: SparkSession, dir: String): String =
    TypeStores.hashPath(StorePaths.ensureRouteStores(s, dir))

  private def evq(s: SparkSession, dir: String): DataFrame =
    graft.sources.Events.read(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bucketed-HNSW approximate kNN: every hash bucket of the route
    // pack's stored type-0 index walks the query batch, bounded top-k
    // merge
    "ann_hnsw_knn" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      graft.index.AnnIndexStore.search(s, routeHashStore(s, dir), q, k = 10, ef = 200)
    }),

    // LSM delta-append serving: main graphs hold 4/5 of the corpus, the
    // last fifth arrives as an un-indexed delta appended WITHOUT a graph
    // rebuild; search = graph walks ∪ exact delta scan under one bounded
    // top-k. Oracle = exact kNN over the WHOLE corpus (delta recall is
    // 1.0 by construction; main walks are exhaustive-grade at sf scale).
    "ann_delta_knn" -> ((s, dir) => {
      val idxPath = ensureDeltaStore(s, dir)
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      graft.index.AnnIndexStore.searchWithDelta(s, idxPath, q, k = 10, ef = 200)
    }),

    // the SAME LSM loop driven end-to-end through Structured Streaming
    // (the round-9 gap: deltaIngestWriter was spec-only): two
    // MemoryStream micro-batches flow through appendDeltaBatch across a
    // checkpointed stream RESTART (so the second run's batchId really
    // advances), the second crosses the compaction threshold and folds
    // both into rebuilt graphs, and serving answers from the compacted
    // store. Oracle = the same whole-corpus exact kNN as ann_delta_knn.
    // The stream mutates its store, so each run rebuilds from scratch
    // (a cached store would re-ingest the same ids twice).
    "ann_delta_stream" -> ((s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = new java.io.File(StorePaths.taggedPath(s, "/tmp/graft_ann_delta_stream", dir))
      graft.sources.ParquetMeta.deleteRecursively(root)
      val idxPath = s"$root/index"
      val e = emb(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      graft.index.AnnIndexStore.build(e.filter(col("id") % 5 >= 2), idxPath,
        numBuckets = 4)
      // ONE collect for both micro-batch payloads (r15): the two
      // per-fifth filters each paid a scan+collect job; the union is
      // the same rows, split driver-side. Sort key and per-batch
      // membership are unchanged, so the stream sees identical batches.
      val batchRows: Map[Long, Seq[(Long, Array[Float])]] =
        e.filter(col("id") % 5 <= 1)
          .select((col("id") % 5).as("m"), col("id"), col("vec"))
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
          .groupBy(_._1).map { case (m, xs) =>
            (m, xs.map(_._2).toSeq.sortBy(_._1))
          }
      def batch(m: Int): Seq[(Long, Array[Float])] =
        batchRows.getOrElse(m.toLong, Seq.empty)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val writer = graft.streaming.StreamingKnn.deltaIngestWriter(
          mem.toDF.toDF("id", "vec"), idxPath, numBuckets = 4, compactAt = 0.4,
          checkpointLocation = Some(s"$root/ckpt"))
      mem.addData(batch(0): _*) // 1/5 over 3/5 = 0.33 < 0.4: append only
      writer.start().awaitTermination()
      mem.addData(batch(1): _*) // 2/5 over 3/5 = 0.67 ≥ 0.4: fold
      writer.start().awaitTermination()
      require(graft.index.AnnIndexStore.deltaFraction(s, idxPath) == 0.0,
        "ann_delta_stream: threshold crossing must have compacted the delta")
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      graft.index.AnnIndexStore.searchWithDelta(s, idxPath, q, k = 10, ef = 200)
    }),

    // signed-random-projection LSH cosine top-k
    "sim_lsh_topk" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.lshCosineTopK(base, q, k = 10, numPlanes = 8)
    }),

    // IVF-Flat ANN with the hash-seeded coarse quantizer: seed pick,
    // list assignment, nprobe probing and exact re-rank are all
    // deterministic, so the WHOLE inverted-file pipeline is
    // hash-checked by the DuckDB oracle (the k-means quantizer —
    // SimilaritySearch.ivfKnn — stays the quality path, recall-floored
    // in SimilaritySearchSpec; no SQL engine can replay its
    // float-rounded Lloyd iterations)
    "ann_ivf_knn" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.ivfKnnSeeded(base, q, k = 10, nlist = 16, nprobe = 4)
    }),

    // product-quantization ADC kNN with hash-seeded codebooks: the base
    // is scanned as m=4 sub-codes per row (not 64 floats), each query
    // precomputes one m×ksub distance table, candidates are m table
    // lookups, then exact re-rank — the IVF-PQ memory-bandwidth shape
    // for 100-TB embedding stores. Seeded codebooks make every stage
    // (seed pick, per-subspace argmin encode, table arithmetic, both
    // top-k orders) DuckDB-replayable — hash-checked APPROXIMATE search,
    // like ann_ivf_knn; the k-means-codebook quality path stays
    // recall-floored in SimilaritySearchSpec.
    "pq_adc_knn" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      SimilaritySearch.pqKnnSeeded(base, q, k = 10, m = 4, ksub = 16, refineK = 50)
    }),

    // IVF-PQ with residual encoding (Jégou et al.'s IVFADC — the
    // composition the PQ probe's findings call for: route with the
    // coarse quantizer so the ADC scan touches nprobe lists instead of
    // the corpus, and encode RESIDUALS so the codebook resolves one
    // list's spread instead of the whole domain). Seeded coarse
    // centroids + seeded residual codebook make every stage —
    // both seed picks, assignment, float residual subtraction,
    // per-subspace argmin encode, per-(query,list) ADC tables, both
    // top-k orders — DuckDB-replayable; hash-checked APPROXIMATE
    // search end to end. The Lloyd-trained quality path
    // (ivfPqKnnTrained) is recall-floored in SimilaritySearchSpec.
    // Served from the PERSISTED store, not the in-memory operator: the
    // codes table is written partitionBy("list"), so the probed set
    // becomes a static partition filter on the scan — the query batch
    // physically reads nprobe/nlist of the codes files (PartitionFilters
    // asserted in AnnIndexStoreSpec; stored ≡ in-memory row-for-row is
    // spec-asserted there too, so the oracle below is unchanged).
    "ann_ivfpq_knn" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vec"))
      val q = emb(s, dir).filter(col("vec_id") % 71 === 3)
        .select(col("vec_id").cast("long").as("qid"), col("embedding").as("qvec"))
      val idxPath = StorePaths.taggedPath(s, "/tmp/graft_ivfpq", dir)
      if (!new java.io.File(s"$idxPath/codes/_SUCCESS").exists())
        graft.index.AnnIndexStore.buildIvfPqSeeded(base, idxPath,
          nlist = 16, m = 4, ksub = 16)
      graft.index.AnnIndexStore.searchIvfPq(s, idxPath, base, q,
        k = 10, nprobe = 4, refineK = 50)
    }),

    // measured-recall ef auto-tune (the reference's offline recall
    // sweep, getquery.cpp/plot.py, as a deterministic function): the
    // ladder of (ef, recall@10) rungs, with the chosen ef flagged.
    // Tunes against the REAL stored sub-index the SQL serving path
    // answers from (largest bucket = worst-case walk) — the reference
    // sweeps the index it will serve, not a rebuilt sample. The QUERY
    // sample stays driver-bounded: a deterministic vec_id stride sized
    // from the parquet footer count (no job), with an ordered-top-N
    // fallback for sparse/offset id spaces.
    "ann_ef_tune" -> ((s, dir) => {
      val idxPath = routeHashStore(s, dir)
      val sample = stridedSample(s, dir, maxSample = 2048L)
      val res = graft.index.EfTuner.tuneStored(s, idxPath, sample, k = 10,
        targetRecall = 0.95, ladder = Seq(16, 32, 64, 128, 256))
      // gate teeth for the one rows-only entry: a tuning regression
      // (no rung reaching the target — chosenEf falls back to the
      // ladder max with recall below target) must fail Verify loudly,
      // not ship a quietly-degraded serving ef
      val chosenRung = res.rungs.find(_.ef == res.chosenEf).get
      require(chosenRung.recall >= 0.95,
        s"ef tune regression: chosen ef ${res.chosenEf} recall ${chosenRung.recall} < 0.95")
      import s.implicits._
      // output = the chosen operating point, NOT the measured recall
      // decimal: the golden oracle pins (ef, chosen), which is stable
      // across corpus SCALES (sf0.01 and sf0.1 both tune to rung 16),
      // while the recall value is corpus-dependent and would fail any
      // replay at a different sf. The ≥0.95 recall floor is enforced
      // by the loud require above — the measurement's teeth — and the
      // full ladder is still inspectable via EfTuner directly.
      res.rungs.map(r => (r.ef.toLong,
          if (r.ef == res.chosenEf) 1L else 0L))
        .toDF("ef", "chosen")
    }),

    // The tuner's derived effort-band table as a driver-gated rows
    // query (the r11 verdict's task #4): tuneBands is a deterministic
    // function of the store (seeded builds, id-ordered ties, fixed
    // ladders) and the store is a deterministic function of the
    // seed-42 corpus, so the tuned (band, value) rows are
    // golden-stable and the oracle pins them as VALUES — the
    // reference's own golden-output style (utils.h:168-221). Teeth
    // beyond the hash: requireTarget makes a tuning regression (no
    // ladder rung reaching the recall bar) throw instead of silently
    // shipping the ladder max, the double-run require pins
    // determinism itself, and the serialize→parse round-trip gates
    // the `_ef_bands` sidecar codec the banded arms load.
    "ann_ef_bands" -> ((s, dir) => {
      val root = StorePaths.ensureRouteStores(s, dir)
      val store = TypeStores.decilePath(root)
      // deterministic driver-bounded sample: THE shared tuner-gate
      // selection (footer-count stride, sparse-id fallback, vec_id
      // order) — not a diverged copy
      val sample = stridedSample(s, dir, maxSample = 32L)
      def tuneOnce() = graft.index.EfTuner.tuneBands(s, store, sample,
        k = 10, targetRecall = 0.999, ef = 400, requireTarget = true)
      val bands = tuneOnce()
      require(tuneOnce() == bands,
        "ann_ef_bands: band tuning must be deterministic run-over-run")
      require(graft.operators.EfBands.parse(bands.serialize).contains(bands),
        "ann_ef_bands: _ef_bands sidecar codec must round-trip the table")
      import s.implicits._
      (bands.full.map { case (m, f) => (s"full_$m", f) } :+
        ("cap_infilter", bands.inFilterMaxFactor) :+
        ("brute_coverage", bands.bruteCoverage))
        .toDF("band", "value")
    }),

    // The IVF route's probe count, measured instead of hand-set (the
    // r12 verdict's task #1 — the last hand-tuned effort knob on the
    // slowest arm): tuneNprobe ladders ROUTING recall (nprobe-probed
    // candidate top-k vs the all-lists top-k at the same ef — the loss
    // this knob governs, isolated from the walk's ef loss) on the
    // seeded IVF store, so the measurement is a deterministic function
    // of the pinned corpus and the oracle pins the chosen operating
    // point as golden values. Teeth beyond the hash: the chosen-rung
    // recall floor, the double-run determinism require, and the
    // `_nprobe` sidecar round-trip — the exact value tuned here is the
    // value AutoNprobe resolution hands the serving arms.
    "ann_nprobe_tune" -> ((s, dir) => {
      val ivfPath = StorePaths.ensureIvfStore(s, dir)
      val sample = stridedSample(s, dir, maxSample = 32L)
      // the lifecycle tuner's own routing bar (the 0.995 end-recall
      // gate decomposed across the two tuned knobs) — ONE shared
      // constant, so the gate and the stamp cannot drift
      val bar = graft.index.EfTuner.NprobeRoutingBar
      def tuneOnce() = graft.index.EfTuner.tuneNprobe(s, ivfPath, sample,
        k = 10, targetRecall = bar, ef = 400)
      val res = tuneOnce()
      require(tuneOnce() == res,
        "ann_nprobe_tune: nprobe tuning must be deterministic run-over-run")
      require(res.chosenRecall >= bar,
        s"nprobe tune regression: chosen nprobe ${res.chosen} routing " +
          s"recall ${res.chosenRecall} < $bar")
      graft.index.AnnIndexStore.writeNprobe(ivfPath, res.chosen)
      require(graft.index.AnnIndexStore.resolveNprobe(ivfPath,
          graft.index.AnnIndexStore.AutoNprobe) == res.chosen,
        "ann_nprobe_tune: _nprobe sidecar round-trip must hand the " +
          "serving arms the tuned value")
      import s.implicits._
      res.rungs.map(r => (r.nprobe.toLong,
          if (r.nprobe == res.chosen) 1L else 0L))
        .toDF("nprobe", "chosen")
    }),

    // The IVF arm's WALK ef, measured instead of hand-set (the r14
    // residual: the 30M ladder read end recall 0.9906 at routing
    // 0.9997 — the loss was entirely the fixed CLI ef, the last
    // hand-set effort knob on the arm). tuneIvfEf ladders END recall
    // at a fixed probe count against the exact oracle over the base —
    // deterministic on the seeded store + pinned corpus, so the oracle
    // pins the chosen operating point. nprobe is pinned at 16 =
    // probe-all, the exact choice the ann_nprobe_tune oracle pins for
    // this store (order-independence: this gate must not depend on
    // whether that gate's sidecar write ran first). Teeth: chosen-rung
    // end-recall floor, double-run determinism, `_ivf_ef` sidecar
    // round-trip.
    "ann_ivf_ef_tune" -> ((s, dir) => {
      val ivfPath = StorePaths.ensureIvfStore(s, dir)
      val sample = stridedSample(s, dir, maxSample = 32L)
      val baseDf = emb(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val bar = graft.index.EfTuner.IvfEndRecallBar
      def tuneOnce() = graft.index.EfTuner.tuneIvfEf(s, ivfPath, baseDf,
        sample, k = 10, nprobe = 16, targetRecall = bar)
      val res = tuneOnce()
      require(tuneOnce() == res,
        "ann_ivf_ef_tune: walk-ef tuning must be deterministic run-over-run")
      require(res.rungs.find(_.ef == res.chosenEf).exists(_.recall >= bar),
        s"ivf-ef tune regression: chosen ef ${res.chosenEf} end recall " +
          s"below $bar")
      graft.index.AnnIndexStore.writeIvfEf(ivfPath, res.chosenEf)
      require(graft.index.AnnIndexStore.ivfEfOf(ivfPath).contains(res.chosenEf),
        "ann_ivf_ef_tune: _ivf_ef sidecar round-trip must hand the " +
          "lifecycle arms the tuned value")
      import s.implicits._
      res.rungs.map(r => (r.ef.toLong,
          if (r.ef == res.chosenEf) 1L else 0L))
        .toDF("ef", "chosen")
    }),

    // SQL-level ANN auto-route (SURVEY §4's AnnJoinStrategy): the plain
    // `ORDER BY l2_sq(vec, :qvec) LIMIT k` shape over a registered
    // parquet path plans as an HNSW index search (AnnTopKExec) instead
    // of a full scan — the reference's core premise surfaced in Catalyst
    "ann_sql_topk" -> ((s, dir) => {
      val basePath = s"$dir/embeddings.parquet"
      val idxPath = routeHashStore(s, dir)
      // trusted: the store was built from the route pack's renamed copy
      // of these embeddings (fingerprinted path), so its build record
      // names that copy and can never match this base's listing
      org.apache.spark.sql.graft.AnnCatalog.register(
        basePath, idxPath, idCol = "vec_id", vecCol = "embedding", ef = 200,
        trusted = true)
      // the 5 smallest matching ids — deterministic, so the DuckDB
      // oracle can reproduce the query set exactly
      val qvs = emb(s, dir).filter(col("vec_id") % 97 === 1)
        .select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(5)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      qvs.map { case (qid, qv) =>
        s.read.parquet(basePath)
          .orderBy(graft.functions.VectorFunctions.l2Sq(col("embedding"), typedLit(qv)),
            col("vec_id"))
          .select("vec_id").limit(10)
          .select(lit(qid).as("qid"), col("vec_id").as("nid"))
      }.reduce(_.unionByName(_))
    }),

    // SQL ANN through the CENTROID-ROUTED IVF store: the same plain
    // `ORDER BY l2_sq LIMIT k` statements as ann_sql_topk, but the
    // registration carries a seeded-IVF index, so the planner's type-0
    // route reads only the query's nprobe nearest lists instead of
    // walking every hash bucket (the 100-TB serving shape; IvfScaleProbe,
    // deleted after 8b7c77f, measured 3.3× at the contest point). Seeded centroids make list
    // membership — and therefore the nprobe-limited candidate set —
    // exactly replayable by the DuckDB oracle: this is hash-checked
    // APPROXIMATE serving, not recall-floored.
    "ann_sql_ivf" -> ((s, dir) => {
      val basePath = s"$dir/embeddings.parquet"
      val ivfPath = StorePaths.ensureIvfStore(s, dir)
      // hash store stays the registered non-type-0 fallback path (the
      // one ann_sql_topk registers); the type-0 route prefers the lists
      val hashPath = routeHashStore(s, dir)
      // ef 400: each probed list must be searched exhaustively-grade so
      // the serving top-k equals the oracle's exact re-rank over the
      // SAME candidate set (the approximation is WHICH lists, not the
      // within-list walk). trusted: both stores were built from
      // renamed-column copies of this base, whose records can never
      // match its listing
      org.apache.spark.sql.graft.AnnCatalog.register(
        basePath, hashPath, idCol = "vec_id", vecCol = "embedding", ef = 400,
        trusted = true, ivfIndex = Some(ivfPath), nprobe = 4)
      val qvs = emb(s, dir).filter(col("vec_id") % 97 === 1)
        .select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(5)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      qvs.map { case (qid, qv) =>
        s.read.parquet(basePath)
          .orderBy(graft.functions.VectorFunctions.l2Sq(col("embedding"), typedLit(qv)),
            col("vec_id"))
          .select("vec_id").limit(10)
          .select(lit(qid).as("qid"), col("vec_id").as("nid"))
      }.reduce(_.unionByName(_))
    }),

    // the reference's full 4-type query template from PLAIN SQL shapes,
    // every type auto-routed to its persisted index table by the
    // injected planner strategy (AnnTopKStrategySpec proves the plans)
    "ann_sql_routed" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val root = StorePaths.ensureRouteStores(s, dir)
      val basePath = s"$root/base"
      val b = s.read.parquet(basePath)
      // guard mode: the three stores were built from a bare read of this
      // base, so each records its files and an unchanged base is served
      // from the index with no fetch
      org.apache.spark.sql.graft.AnnCatalog.register(basePath, TypeStores.hashPath(root),
        idCol = "id", vecCol = "vec", ef = 200,
        labelIndex = Some(("label", TypeStores.labelPath(root))),
        rangeIndex = Some(("ts", TypeStores.decilePath(root))))
      // min qid per type — deterministic, reproducible by the oracle.
      // The min is computed distributively and joined back so the
      // driver fetches exactly the 4 winning rows, not the query table
      // (whose size scales with the corpus).
      val qall = graft.SparkEntry.vecQueries(s, dir)
      val qs4 = qall
        .join(qall.groupBy("qtype").agg(min(col("qid")).as("qid")), Seq("qtype", "qid"))
        .select("qid", "qtype", "v", "l", "r", "qvec").collect().toSeq
      qs4.map { q =>
        val (qid, qtype, v) = (q.getLong(0), q.getInt(1), q.getLong(2))
        val (l, r, qv) = (q.getDouble(3), q.getDouble(4), q.getSeq[Float](5).toArray)
        val filtered = qtype match {
          case 0 => b
          case 1 => b.filter(col("label") === v)
          case 2 => b.filter(col("ts") >= l && col("ts") <= r)
          case _ => b.filter(col("label") === v && col("ts") >= l && col("ts") <= r)
        }
        filtered
          .orderBy(VF.l2Sq(col("vec"), typedLit(qv)), col("id"))
          .select("id").limit(10)
          .select(lit(qid).as("qid"), lit(qtype).cast("long").as("qtype"),
            col("id").as("nid"))
      }.reduce(_.unionByName(_))
    }),

    // multimodal plumbing: binary payloads → deterministic stub features
    "multimodal_features" -> ((s, dir) => {
      // NOT SmallBase-parallelized (r14: 1.12 -> 2.56 s; RE-A/B'd in
      // r15 after ImageIO.setUseCache(false) removed the per-attempt
      // temp-file churn, still 0.95 -> 1.99 s parallel): the
      // javax.imageio / javax.sound decode attempts serialize on global
      // registry locks, so 32 concurrent decode tasks contend instead
      // of speeding up — the single-split scan shape wins here.
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
      // text payloads are never decodable images OR audio, so both real
      // kernels deterministically fall back (metadata = -1, hash stub
      // features) — exactly what the oracle mirrors; real payloads take
      // the javax.imageio / javax.sound.sampled paths (MultimodalSpec
      // covers them with generated PNGs and WAVs)
      val img = Multimodal.withImageFeatures(media, "media_id", "bytes")
        .select(col("media_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("channels").cast("long").as("channels"),
          element_at(col("features"), 1).cast("double").as("f0"))
      val aud = Multimodal.withAudioFeatures(media, "media_id", "bytes")
        .select(col("media_id"),
          col("duration_ms").cast("long").as("duration_ms"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("audio_channels"),
          element_at(col("features"), 2).cast("double").as("f1"))
      img.join(aud, "media_id")
    }),

    // sketch aggregates: HyperLogLog++ approximate distinct per event
    // type, checked against the exact count. The sketch VALUE is
    // engine-specific (not SQL-reproducible), so the oracled output is
    // the exact count plus a deterministic error-bound flag: |approx −
    // exact| ≤ 3·rsd·exact + 1. Spark's HLL++ is deterministic, so the
    // flag is stable; the DuckDB oracle emits the bound's truth (1).
    "approx_distinct_users" -> ((s, dir) =>
      evq(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") <=
            col("exact_users") * lit(0.06) + lit(1.0)).cast("long").as("within_bound"))),

    // streaming-capable hourly window agg (batch twin, exact oracle)
    "events_stream_hourly" -> ((s, dir) =>
      EventPipeline.hourlyAgg(evq(s, dir))
        .select(col("window_start").cast("long").as("window_start_epoch"),
          col("event_type"), col("n_events"), col("sum_value"))),

    // stream-stream interval join (purchase ← same-user signup within
    // the preceding hour), run on its batch twin; EventPipelineSpec
    // proves MemoryStream output ≡ this plan
    "stream_join_attrib" -> ((s, dir) =>
      EventPipeline.purchaseAttribution(evq(s, dir))),

    // continuous-ingestion exact dedup (flatMapGroupsWithState keyed by
    // content hash, first-wins across micro-batches), run on its batch
    // twin over documents; EventPipelineSpec proves the MemoryStream
    // run ≡ this plan's min-id-per-hash semantics
    "dedup_stream" -> ((s, dir) =>
      EventPipeline.streamingExactDedup(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // continuous-ingestion SEMANTIC dedup (flatMapGroupsWithState keyed
    // by cluster, any-earlier-similar drops), run on its batch twin over
    // embeddings: output = the kept rows of semdedup_prune, which the
    // oracle replays; EventPipelineSpec proves MemoryStream ≡ this plan
    "semdedup_stream" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = graft.operators.SimilaritySearch.seededCentroids(
        e, "vec_id", "embedding", 16)
      EventPipeline.streamingSemanticDedup(e, "vec_id", "embedding",
        cents, minCosine = 0.4)
    }),

    // embedding-space cluster assignment for corpus curation (semantic
    // bucketing / domain mixing / per-cluster sampling): one scan, zero
    // shuffles — the centroid matrix is a folded literal, assignment and
    // distance are per-row codegen expressions. Deterministic hash-seeded
    // centroids, so the oracle replays the whole assignment.
    "cluster_assign" -> ((s, dir) =>
      SimilaritySearch.clusterAssign(emb(s, dir), "vec_id", "embedding",
        nClusters = 16)),

    // per-cluster curation profile: sizes + inertia (sum of squared
    // distance to the assigned centroid — the k-means objective)
    "cluster_profile" -> ((s, dir) =>
      SimilaritySearch.clusterAssign(emb(s, dir), "vec_id", "embedding",
        nClusters = 16)
        .groupBy(col("cluster"))
        // Exact decimal sum of per-row-rounded distances: a double sum is
        // partition-order dependent and could cross the display-rounding
        // boundary at scale; per-row dist is bit-identical across engines
        // (cluster_assign hash-matches it), so rounding each row to 6 dp
        // and summing as DECIMAL is order-independent and engine-exact.
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(round(col("dist"), 6).cast("decimal(28,6)")), 2)
            .cast("double").as("inertia")))
  )

  val oracles: Map[String, String] = Map(
    // Full mirror of the SRP-LSH top-k pipeline: md5-derived planes →
    // 8-bit signatures (sequential double dots, bit-identical across
    // engines) → multi-probe buckets (signature plus every 1-bit flip)
    // → exact cosine re-rank ordered by (negcos, id). Same plane
    // formula as the neardup_lsh_pairs oracle; same cosine mirror as
    // sim_cosine_topk.
    "sim_lsh_topk" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding FROM embeddings),
        |js AS (SELECT unnest(range(0, 8)) AS j),
        |sg AS (
        |  SELECT e.id,
        |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1), d ->
        |      CAST(e.embedding[d] AS DOUBLE) *
        |      (CAST(CAST(('0x'||substr(md5('plane_'||CAST(js.j AS VARCHAR)||'_'||CAST(d-1 AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT)
        |       / 576460752303423488.0 - 1.0))) > 0
        |      THEN (CAST(1 AS BIGINT) << CAST(js.j AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        |  FROM e, js GROUP BY e.id
        |),
        |probes AS (SELECT CAST(unnest([0,1,2,4,8,16,32,64,128]) AS BIGINT) AS probe),
        |qb AS (
        |  SELECT qs.id AS qid, xor(qs.sig, probes.probe) AS bucket
        |  FROM sg qs, probes WHERE qs.id % 71 = 3
        |),
        |cand AS (
        |  SELECT qb.qid, sg.id FROM qb JOIN sg ON sg.sig = qb.bucket
        |  WHERE sg.id != qb.qid
        |),
        |j AS (
        |  SELECT c.qid, c.id,
        |    -(list_sum(list_transform(list_zip(eq.embedding, eb.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(eq.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS negcos
        |  FROM cand c JOIN e eq ON c.qid = eq.id JOIN e eb ON c.id = eb.id
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY negcos, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // HLL++ estimate is engine-specific; the oracled contract is the
    // exact count + the 3-sigma error bound holding (within_bound = 1).
    "approx_distinct_users" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    // Bucketed-HNSW kNN vs brute force: at sf0.01 the per-bucket walks
    // (ef=200 over ~600-row sub-indexes) are exhaustive enough for full
    // recall, and input + build are deterministic — so the exact kNN is
    // a stable oracle. Ordering note: ranks come from the fp32 SIMD
    // re-rank; on this corpus no candidate pair lands within float
    // accumulation error of a tie (verified by the hash match itself).
    "ann_hnsw_knn" ->
      """WITH q AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id % 71 = 3
        |), j AS (
        |  SELECT q.qid, CAST(b.vec_id AS BIGINT) AS id,
        |    list_sum(list_transform(list_zip(q.qvec, b.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM q, embeddings b
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Delta-append serving vs the same whole-corpus exact kNN: the main
    // graphs walk 4/5 of the rows exhaustively at this scale and the
    // delta fifth is scanned exactly, so the union's top-k equals the
    // full brute force.
    "ann_delta_knn" ->
      """WITH q AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id % 71 = 3
        |), j AS (
        |  SELECT q.qid, CAST(b.vec_id AS BIGINT) AS id,
        |    list_sum(list_transform(list_zip(q.qvec, b.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM q, embeddings b
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Streaming LSM ingest lands on the identical end state: after the
    // threshold fold the whole corpus is in the graphs (walked
    // exhaustively at this scale), so the oracle is the same
    // whole-corpus exact kNN as ann_delta_knn.
    "ann_delta_stream" ->
      """WITH q AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id % 71 = 3
        |), j AS (
        |  SELECT q.qid, CAST(b.vec_id AS BIGINT) AS id,
        |    list_sum(list_transform(list_zip(q.qvec, b.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM q, embeddings b
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Hash-seeded IVF, replayed stage by stage: seed pick (md5 rank),
    // list index (id rank among seeds), nearest-list assignment
    // (tie-break by list), nprobe probe set, exact re-rank by
    // (dist, id). Distances mirror NearestCentroids/l2Sq: sequential
    // double accumulation over the float components.
    "ann_ivf_knn" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS list, vec AS cvec FROM picked
        |), assign AS (
        |  SELECT id, vec, list FROM (
        |    SELECT b.id, b.vec, s.list,
        |      row_number() OVER (PARTITION BY b.id ORDER BY
        |        list_sum(list_transform(list_zip(b.vec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM b CROSS JOIN seeds s
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id % 71 = 3
        |), probe AS (
        |  SELECT qid, qvec, list FROM (
        |    SELECT q.qid, q.qvec, s.list,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_sum(list_transform(list_zip(q.qvec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM q CROSS JOIN seeds s
        |  ) WHERE rn <= 4
        |), j AS (
        |  SELECT p.qid, a.id,
        |    list_sum(list_transform(list_zip(p.qvec, a.vec),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dist
        |  FROM probe p JOIN assign a USING (list)
        |  WHERE a.id <> p.qid
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Full replay of the PQ-ADC pipeline, stage by stage: seed pick
    // (md5 'pqseed:' rank), per-subspace argmin encode ((dist, c)
    // ties), per-query m×ksub distance table, ADC = ordered list_sum of
    // the m looked-up entries (mirrors Spark's left-assoc + chain),
    // top-refineK by (adc, id), exact re-rank by (dist, id). Distances
    // are sequential double accumulation over the float slices — the
    // same l2Sq mirror as every kNN oracle.
    "pq_adc_knn" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec,
        |         len(embedding) // 4 AS sub
        |  FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('pqseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec AS cvec FROM picked
        |), js AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS j),
        |enc AS (
        |  SELECT id, j, c AS code FROM (
        |    SELECT b.id, js.j, s.c,
        |      row_number() OVER (PARTITION BY b.id, js.j ORDER BY
        |        list_sum(list_transform(
        |          list_zip(b.vec[js.j*b.sub+1 : (js.j+1)*b.sub], s.cvec[js.j*b.sub+1 : (js.j+1)*b.sub]),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.c) AS rn
        |    FROM b CROSS JOIN js CROSS JOIN seeds s
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT id AS qid, vec AS qvec, sub FROM b WHERE id % 71 = 3
        |), tab AS (
        |  SELECT q.qid, js.j, s.c,
        |    list_sum(list_transform(
        |      list_zip(q.qvec[js.j*q.sub+1 : (js.j+1)*q.sub], s.cvec[js.j*q.sub+1 : (js.j+1)*q.sub]),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS val
        |  FROM q CROSS JOIN js CROSS JOIN seeds s
        |), adc AS (
        |  SELECT t.qid, e.id, list_sum(list(t.val ORDER BY t.j)) AS adist
        |  FROM enc e JOIN tab t ON t.j = e.j AND t.c = e.code
        |  WHERE e.id != t.qid
        |  GROUP BY t.qid, e.id
        |), cand AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rn
        |    FROM adc
        |  ) WHERE rn <= 50
        |), j2 AS (
        |  SELECT c.qid, c.id,
        |    list_sum(list_transform(list_zip(q.qvec, b.vec),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM cand c JOIN q ON c.qid = q.qid JOIN b ON c.id = b.id
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j2
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Full replay of the residual-encoded IVF-PQ route, stage by stage:
    // ivfseed pick → list assignment ((dist, list) ties) → FLOAT
    // residual subtraction (DuckDB FLOAT − FLOAT ≡ Spark zip_with —
    // the reason no CAST appears in the residual lambdas) → pqseed pick
    // whose rows' residuals form the codebook → per-subspace argmin
    // encode → per-(query,list) ADC table over the QUERY's residual →
    // ADC within the probed lists only (a base row lives in exactly one
    // list) → top-refineK by (adc, id) → exact re-rank by (dist, id).
    "ann_ivfpq_knn" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec,
        |         len(embedding) AS dim, len(embedding) // 4 AS sub
        |  FROM embeddings
        |), ipicked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), iseeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS list, vec AS cvec FROM ipicked
        |), assign AS (
        |  SELECT id, vec, dim, sub, list,
        |    list_transform(list_zip(vec, cvec), p -> p[1] - p[2]) AS res
        |  FROM (
        |    SELECT b.id, b.vec, b.dim, b.sub, s.list, s.cvec,
        |      row_number() OVER (PARTITION BY b.id ORDER BY
        |        list_sum(list_transform(list_zip(b.vec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM b CROSS JOIN iseeds s
        |  ) WHERE rn = 1
        |), ppicked AS (
        |  SELECT id FROM b
        |  ORDER BY CAST(('0x' || substr(md5('pqseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), book AS (
        |  SELECT row_number() OVER (ORDER BY a.id) - 1 AS c, a.res AS bvec
        |  FROM assign a JOIN ppicked p ON a.id = p.id
        |), js AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS j),
        |enc AS (
        |  SELECT id, list, j, c AS code FROM (
        |    SELECT a.id, a.list, js.j, k.c,
        |      row_number() OVER (PARTITION BY a.id, js.j ORDER BY
        |        list_sum(list_transform(
        |          list_zip(a.res[js.j*a.sub+1 : (js.j+1)*a.sub], k.bvec[js.j*a.sub+1 : (js.j+1)*a.sub]),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        k.c) AS rn
        |    FROM assign a CROSS JOIN js CROSS JOIN book k
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT id AS qid, vec AS qvec, dim, sub FROM b WHERE id % 71 = 3
        |), probe AS (
        |  SELECT qid, sub, list,
        |    list_transform(list_zip(qvec, cvec), p -> p[1] - p[2]) AS qres
        |  FROM (
        |    SELECT q.qid, q.sub, q.qvec, s.list, s.cvec,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_sum(list_transform(list_zip(q.qvec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM q CROSS JOIN iseeds s
        |  ) WHERE rn <= 4
        |), tab AS (
        |  SELECT p.qid, p.list, js.j, k.c,
        |    list_sum(list_transform(
        |      list_zip(p.qres[js.j*p.sub+1 : (js.j+1)*p.sub], k.bvec[js.j*p.sub+1 : (js.j+1)*p.sub]),
        |      p2 -> (CAST(p2[1] AS DOUBLE) - CAST(p2[2] AS DOUBLE)) * (CAST(p2[1] AS DOUBLE) - CAST(p2[2] AS DOUBLE)))) AS val
        |  FROM probe p CROSS JOIN js CROSS JOIN book k
        |), adc AS (
        |  SELECT t.qid, e.id, list_sum(list(t.val ORDER BY t.j)) AS adist
        |  FROM enc e JOIN tab t ON t.list = e.list AND t.j = e.j AND t.c = e.code
        |  WHERE e.id != t.qid
        |  GROUP BY t.qid, e.id
        |), cand AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rn
        |    FROM adc
        |  ) WHERE rn <= 50
        |), j2 AS (
        |  SELECT c.qid, c.id,
        |    list_sum(list_transform(list_zip(q.qvec, b.vec),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM cand c JOIN q ON c.qid = q.qid JOIN b ON c.id = b.id
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j2
        |)
        |SELECT qid, CAST(rnk AS BIGINT) AS "rank", id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Full replay of the centroid-routed SQL serving path: seed pick →
    // list assignment (argmin, (dist, list) ties) → the 5 statements'
    // nprobe=4 probed lists → exact top-10 by (dist, id) over the
    // probed candidates only. No self-exclusion (the SQL statement has
    // none). Mirrors ann_ivf_knn's CTEs with ann_sql_topk's query set.
    "ann_sql_ivf" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS list, vec AS cvec FROM picked
        |), assign AS (
        |  SELECT id, vec, list FROM (
        |    SELECT b.id, b.vec, s.list,
        |      row_number() OVER (PARTITION BY b.id ORDER BY
        |        list_sum(list_transform(list_zip(b.vec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM b CROSS JOIN seeds s
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT id AS qid, vec AS qvec FROM b WHERE id % 97 = 1 ORDER BY id LIMIT 5
        |), probe AS (
        |  SELECT qid, qvec, list FROM (
        |    SELECT q.qid, q.qvec, s.list,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_sum(list_transform(list_zip(q.qvec, s.cvec),
        |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
        |        s.list) AS rn
        |    FROM q CROSS JOIN seeds s
        |  ) WHERE rn <= 4
        |), j AS (
        |  SELECT p.qid, a.id,
        |    list_sum(list_transform(list_zip(p.qvec, a.vec),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS dist
        |  FROM probe p JOIN assign a USING (list)
        |), r AS (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Golden-pinned tuning choice: deterministic (seeded store build,
    // vec_id-ordered sample, fixed ladder) over the pinned seed-42
    // corpus, and scale-stable (sf0.01 and sf0.1 both choose rung 16).
    // The measurement itself can't be replayed in SQL — the in-query
    // require (chosen rung recall ≥ 0.95) is the semantic gate; this
    // hash pins the chosen operating point.
    "ann_ef_tune" ->
      "SELECT CAST(16 AS BIGINT) AS ef, CAST(1 AS BIGINT) AS chosen",

    // Golden-pinned band table (the reference's golden-output style,
    // utils.h:168-221): tuneBands is deterministic and the seed-42
    // corpus is pinned, so the tuned values are stable constants. At
    // sf0.01 every band resolves to its ladder minimum (tiny graphs
    // reach the 0.999 bar at the lowest effort) — the gate's teeth are
    // the query-side requires (recall target met at the chosen rung,
    // run-over-run determinism, sidecar codec round-trip) plus this
    // hash, which moves if the tuner's choice drifts at all.
    // brute_coverage 0.8 = the crossover ladder max: on the gate
    // store's small sub-graphs the deterministic work-count sweep has
    // the quantized slice scan winning at every rung (walk bookkeeping
    // dominates at small n), so the scan region extends to the ladder's
    // top — scale-stable (sf0.01 and sf0.1 both emit 0.8); the
    // interior-crossover half of the tuner is measured on the 30M
    // ladder's 100k-row sub-graphs (BASELINE.md round 14: scan wins
    // through 0.6, walk from 0.7).
    "ann_ef_bands" ->
      """SELECT band, CAST(value AS DOUBLE) AS value FROM (VALUES
        |  ('full_8', 0.25), ('full_4', 0.25), ('full_2', 0.25),
        |  ('cap_infilter', 1.0), ('brute_coverage', 0.8)) AS t(band, value)""".stripMargin,

    // Golden-pinned nprobe choice (same contract as ann_ef_tune): the
    // routing-recall ladder on the seeded 16-list gate store is a
    // deterministic function of the pinned corpus, and scale-stable —
    // sf0.01 and sf0.1 both measure ~0.75 routing recall at nprobe=8
    // and choose the probe-all rung 16 (the synthetic embeddings are
    // near-uniform, so no list subset can contain 99.8% of true
    // neighbors; the tuner correctly refuses to skip lists rather than
    // shipping a hand-set nprobe that silently drops recall — the
    // DEFENSIVE half of the knob). The interior-choice half is
    // measured on the clustered 10M k-means store (BASELINE.md round
    // 13, NprobeProbe ladder; tool deleted after 77313f2). Teeth:
    // chosen-rung recall floor, double-run determinism, `_nprobe`
    // sidecar round-trip into the AutoNprobe serving resolution.
    "ann_nprobe_tune" ->
      """SELECT CAST(nprobe AS BIGINT) AS nprobe, CAST(chosen AS BIGINT) AS chosen
        |FROM (VALUES (1, 0), (2, 0), (4, 0), (8, 0), (16, 1))
        |  AS t(nprobe, chosen)""".stripMargin,

    // Golden-pinned walk-ef choice (same contract as ann_ef_tune /
    // ann_nprobe_tune): END recall at probe-all on the seeded gate
    // store clears the 0.995 bar at the ladder's FIRST rung (150) at
    // both sf0.01 and sf0.1 — small per-list graphs walk exhaustively
    // at low ef, so the tuner hands the serving arm LESS effort than
    // the old hand CLI 400 where the store affords it; the
    // climb-when-under half is measured on the 30M ladder
    // (BASELINE.md round 14). Teeth: chosen-rung end-recall floor,
    // double-run determinism, `_ivf_ef` sidecar round-trip.
    "ann_ivf_ef_tune" ->
      "SELECT CAST(150 AS BIGINT) AS ef, CAST(1 AS BIGINT) AS chosen",

    // ANN SQL auto-route vs brute force: the routed plan re-sorts its
    // top-k by the exact double-loop distance, and at sf0.01 scale the
    // bucketed HNSW search is exhaustive enough for full recall — so
    // the oracle IS the exact kNN, computed by DuckDB.
    "ann_sql_topk" ->
      """WITH q AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qvec
        |  FROM embeddings WHERE vec_id % 97 = 1 ORDER BY vec_id LIMIT 5
        |), j AS (
        |  SELECT q.qid, CAST(b.vec_id AS BIGINT) AS nid,
        |    list_sum(list_transform(list_zip(q.qvec, b.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM q, embeddings b
        |), r AS (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rnk
        |  FROM j
        |)
        |SELECT qid, nid FROM r WHERE rnk <= 10""".stripMargin,

    "ann_sql_routed" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS label,
        |         (vec_id % 100) / 100.0 AS ts, embedding AS vec
        |  FROM embeddings
        |), qall AS (
        |  SELECT CAST(vec_id AS BIGINT) AS qid,
        |         CAST((vec_id // 50) % 4 AS INT) AS qtype,
        |         CAST(label AS BIGINT) AS v,
        |         ((vec_id // 50) % 5) / 10.0 AS l,
        |         ((vec_id // 50) % 5) / 10.0 + 0.45 AS r,
        |         embedding AS qvec
        |  FROM embeddings WHERE vec_id % 50 = 0
        |), q AS (
        |  SELECT * FROM qall QUALIFY row_number() OVER (PARTITION BY qtype ORDER BY qid) = 1
        |), j AS (
        |  SELECT q.qid, q.qtype, b.id,
        |    list_sum(list_transform(list_zip(q.qvec, b.vec),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |  FROM q, b
        |  WHERE (q.qtype = 0)
        |     OR (q.qtype = 1 AND b.label = q.v)
        |     OR (q.qtype = 2 AND b.ts BETWEEN q.l AND q.r)
        |     OR (q.qtype = 3 AND b.label = q.v AND b.ts BETWEEN q.l AND q.r)
        |), r AS (
        |  SELECT qid, qtype, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rnk
        |  FROM j
        |)
        |SELECT qid, CAST(qtype AS BIGINT) AS qtype, id AS nid FROM r WHERE rnk <= 10""".stripMargin,

    // Multimodal features: only the Spark-independent parts are SQL-checkable.
    // f0 = first md5 byte of the payload scaled to [-1,1) — reproducible.
    "multimodal_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(-1 AS BIGINT) AS width,
        |  CAST(-1 AS BIGINT) AS channels,
        |  CAST(('0x' || substr(md5(text), 1, 2)) AS INT) / 128.0 - 1.0 AS f0,
        |  CAST(-1 AS BIGINT) AS duration_ms,
        |  CAST(-1 AS BIGINT) AS sample_rate,
        |  CAST(-1 AS BIGINT) AS audio_channels,
        |  CAST(('0x' || substr(md5(text), 3, 2)) AS INT) / 128.0 - 1.0 AS f1
        |FROM documents""".stripMargin,

    "events_stream_hourly" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_epoch,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_join_attrib" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'
        |), s AS (
        |  SELECT event_id AS signup_id, user_id, epoch_us(ts) AS sus
        |  FROM events WHERE event_type = 'signup'
        |)
        |SELECT CAST(p.purchase_id AS BIGINT) AS purchase_id,
        |  CAST(p.user_id AS BIGINT) AS user_id,
        |  CAST(s.signup_id AS BIGINT) AS signup_id,
        |  CAST(p.pus - s.sus AS BIGINT) AS latency_us
        |FROM p JOIN s ON p.user_id = s.user_id
        |  AND s.sus <= p.pus AND s.sus >= p.pus - 3600000000""".stripMargin,

    // batch twin of the first-wins streaming dedup: one row per distinct
    // content hash, smallest doc_id as the representative
    "dedup_stream" ->
      """SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    // the semdedup_prune pipeline replayed (seed pick → argmin
    // assignment → in-cluster cosine → lower-id-wins drops), keeping
    // only the survivors — the streaming twin's Append-mode output
    "semdedup_stream" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, vec AS cvec FROM picked
        |), a AS (
        |  SELECT id, cluster, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT b.id, s.cluster,
        |      list_sum(list_transform(list_zip(b.vec, s.cvec),
        |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |    FROM b CROSS JOIN seeds s
        |  )
        |), asg AS (
        |  SELECT id, cluster FROM a WHERE rn = 1
        |), v AS (
        |  SELECT b.id, b.vec, asg.cluster,
        |    sqrt(list_sum(list_transform(b.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM b JOIN asg ON b.id = asg.id
        |), drops AS (
        |  SELECT DISTINCT y.id FROM v x JOIN v y
        |  ON x.cluster = y.cluster AND x.id < y.id
        |  WHERE list_sum(list_transform(list_zip(x.vec, y.vec),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (x.nrm * y.nrm) >= 0.4
        |)
        |SELECT asg.id, CAST(asg.cluster AS BIGINT) AS cluster
        |FROM asg LEFT JOIN drops d ON asg.id = d.id WHERE d.id IS NULL""".stripMargin,

    // cluster assignment replayed: hash-seeded centroid pick (same seed
    // formula as ann_ivf_knn), argmin assignment with (dist, cluster)
    // tie-break, exact sequential-double squared-L2 emitted raw
    "cluster_assign" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, vec AS cvec FROM picked
        |), a AS (
        |  SELECT id, cluster, dist, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT b.id, s.cluster,
        |      list_sum(list_transform(list_zip(b.vec, s.cvec),
        |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |    FROM b CROSS JOIN seeds s
        |  )
        |)
        |SELECT id, CAST(cluster AS BIGINT) AS cluster, dist FROM a WHERE rn = 1""".stripMargin,

    "cluster_profile" ->
      """WITH b AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS vec FROM embeddings
        |), picked AS (
        |  SELECT id, vec FROM b
        |  ORDER BY CAST(('0x' || substr(md5('ivfseed:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
        |  LIMIT 16
        |), seeds AS (
        |  SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, vec AS cvec FROM picked
        |), a AS (
        |  SELECT id, cluster, dist, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        |  FROM (
        |    SELECT b.id, s.cluster,
        |      list_sum(list_transform(list_zip(b.vec, s.cvec),
        |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS dist
        |    FROM b CROSS JOIN seeds s
        |  )
        |)
        |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n_vecs,
        |  CAST(round(sum(CAST(round(dist, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS inertia
        |FROM a WHERE rn = 1 GROUP BY 1""".stripMargin
  )
}
