package graft.index

/** Measured-recall ef auto-tuning.
  *
  * The reference ships hand-tuned ef tables per query type and dataset
  * (hybrid_graph.cpp: type-specific ef bands found by offline recall
  * sweeps via getquery.cpp/plot.py). This utility automates that sweep:
  * given a built sub-index and a query sample, it measures recall@k
  * against the index's own exact top-k at each rung of an ef ladder and
  * returns the smallest ef meeting the target — the offline analysis
  * workflow as a deterministic function.
  *
  * Cost model: exact ground truth is one O(sample·n) scan (the sample
  * is small — this is an offline calibration, not a per-query step);
  * each rung is sample·search. Rungs are measured lazily, stopping at
  * the first that meets the target.
  */
object EfTuner {

  // The tuners' walks run on the driver's CPU, on this one engine-owned
  // pool rather than the JVM's common ForkJoinPool that every other
  // library in the process shares. Sized by the driver's own cores (a
  // cluster's defaultParallelism counts executor cores, which these
  // walks never use), daemon threads so it never holds the JVM open.
  private val walkThreads: Int = math.max(1, Runtime.getRuntime.availableProcessors())
  private lazy val walkPool: java.util.concurrent.ExecutorService = {
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newFixedThreadPool(walkThreads, (r: Runnable) => {
      val t = new Thread(r, s"graft-eftuner-walk-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `body(i)` for every i in [0, n) on [[walkPool]], returning when all
    * are done; the first failure is rethrown. Each index runs once, in
    * no fixed order, so a body may only write its own slots. */
  private def parallelOver(n: Int)(body: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val worker: java.util.concurrent.Callable[Unit] = () => {
      var i = next.getAndIncrement()
      while (i < n) { body(i); i = next.getAndIncrement() }
    }
    val workers = java.util.Collections.nCopies(math.max(1, math.min(n, walkThreads)), worker)
    walkPool.invokeAll(workers).forEach { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }

  /** Tune against a REAL stored sub-index (the reference sweeps the
    * actual index it will serve from, getquery.cpp — a sub-sampled
    * rebuild's recall-vs-ef curve can differ). Deterministically picks
    * the LARGEST bucket of the store (worst-case walk depth; ties by
    * bucket id), loads it through the serving cache, and runs the
    * ladder on it. The blob collect is one sub-index — the same
    * bounded unit every serving task holds in memory. */
  def tuneStored(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      sample: Array[Array[Float]], k: Int, targetRecall: Double,
      ladder: Seq[Int] = DefaultLadder): Result = {
    import org.apache.spark.sql.functions._
    // xxhash64 tiebreak: a salted store's equal-size sub rows (chunks
    // are exactly maxRowsPerIndex rows) tie on (n, bucket), and an
    // untied limit(1) would measure a different graph per run
    val row = AnnIndexStore.storeFrame(spark, AnnIndexStore.resolveStore(indexPath))
      .select(col("bucket"), size(col("ids")).as("n"), col("graph"))
      .orderBy(desc("n"), col("bucket"), xxhash64(col("graph")))
      .limit(1).collect()
    require(row.nonEmpty, s"tuneStored: empty index store at $indexPath")
    val idx = HnswIndex.fromBytesCached(row(0).getAs[Array[Byte]]("graph"))
    tune(idx, sample, k, targetRecall, ladder)
  }

  /** Candidate brute-coverage thresholds for the crossover sweep —
    * coarse on purpose: the wall curves cross shallowly, so adjacent
    * rungs differ by a few percent of wall while a coarse grid keeps
    * the tuned value stable against store-content jitter. */
  val DefaultBruteLadder: Seq[Double] = Seq(0.15, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)

  /** Wall-cost advantage of one CONTIGUOUS int8 slice-scan eval over
    * one filtered-walk eval of the same [[HnswIndex]] `qdistTo` unit
    * (the walk pays random access + heap bookkeeping per eval; the
    * scan streams with hardware prefetch). Measured, not assumed:
    * WalkMicro's per-eval section on the 6M t2 store's bucket-3
    * sub-graph (ns/eval ratio, coverage 0.10-0.75 — see BASELINE.md
    * round 14; tool deleted after 77313f2). A CODE constant rather
    * than a per-store measurement so the crossover tuner stays
    * deterministic (gate-pinnable): the ratio is a property of the
    * eval loops and the hardware class, not of store content — across
    * the measured coverages it moved far less than the eval-count
    * curves the tuner derives per store.
    * Measured on the 30M ladder's by_range150 bucket-3 sub-graph
    * (99,894 rows, dim 100): walk 187-311 ns/eval vs scan 30-38
    * ns/eval → ratio 4.9-9.0 across coverage 0.10-0.75, ≈6.7 in the
    * crossover-relevant 0.45-0.75 band; 6.0 sits at its conservative
    * edge (under-estimating shrinks the scan region — the walk side
    * meets the recall bar by the cap tuner, so the failure mode is a
    * few-percent wall loss, never recall). With 6.0 the count model
    * reproduces the measured wall crossover on that sub-graph
    * (scan wins through 0.6, walk from 0.7). */
  val ScanPerEvalAdvantage: Double = 6.0

  /** Derive a store's own effort-band table ([[graft.operators.EfBands]])
    * by measured recall — the banded search arms' analog of [[tune]]:
    * the reference's per-dataset `SearchParams` table
    * (hybrid_graph.h:14-34) derived from the store instead of copied.
    *
    * Full-union factors: for each mFull threshold of the default table
    * ({2, 4, 8}), measure that many ADJACENT buckets (middle of the
    * bucket-id range — middle buckets serve the most ranges), take the
    * exact top-k over their union as ground truth, and keep the
    * smallest factor whose unioned per-bucket walks (at
    * `unionWalkEf(ef, k, m)` with that factor) reach `targetRecall`.
    * Buckets STREAM through the driver one at a time (load, measure at
    * every rung, drop) — peak driver residency is one bucket's rows,
    * the same bounded unit a serving task holds, and a store whose
    * largest bucket exceeds the `graft.eftuner.maxBytes` budget
    * (default max(256 MB, heap/4)) fails loudly with a sizing rule
    * before any blob is collected.
    *
    * In-filter cap: on the largest single bucket, centered attr ranges
    * at coverage 0.70 and 0.85 (above the exact-scan line, where the
    * in-filter walk actually runs): the smallest widening cap whose
    * seeded in-filter walk reaches `targetRecall` on BOTH bands.
    *
    * Tuned at a reference `ef` (the serving default); factors are
    * relative, so nearby serving efs inherit the shape. The store must
    * be a [[AnnIndexStore.buildBy]] table with real attrs (range/label
    * stores). Deterministic: seeded builds, id-ordered ties, fixed
    * ladders. */
  def tuneBands(spark: org.apache.spark.sql.SparkSession, storePath: String,
      sample: Array[Array[Float]], k: Int, targetRecall: Double,
      ef: Int = 400,
      factorLadder: Seq[Double] = Seq(0.25, 0.35, 0.5, 0.75, 1.0),
      capLadder: Seq[Double] = Seq(1.0, 1.5, 2.0, 3.0, 4.0),
      bruteLadder: Seq[Double] = DefaultBruteLadder,
      resolve: Boolean = true,
      requireTarget: Boolean = false): graft.operators.EfBands = {
    import org.apache.spark.sql.functions._
    require(sample.nonEmpty, "empty tuning sample")
    val deflt = graft.operators.SearchParams.DefaultBands
    // resolve = false: the caller has already PINNED a generation dir
    // and needs the measurement to read exactly that dir (a re-resolve
    // here could straddle a concurrent flip and measure content the
    // caller's sidecar writes don't belong to). Resolved ONCE for the
    // whole tune — the budget check below must inspect the same
    // generation the bucket streaming reads.
    val storeDataDir =
      if (resolve) AnnIndexStore.resolveStore(storePath) else storePath
    val df = AnnIndexStore.storeFrame(spark, storeDataDir)
    require(df.columns.contains("attrs"), s"tuneBands: $storePath has no attrs")
    val buckets = df.select(col("bucket").cast("long")).distinct()
      .orderBy("bucket").collect().map(_.getLong(0))
    require(buckets.nonEmpty, s"tuneBands: empty store at $storePath")

    /** One filter+collect job for a BATCH of buckets, grouped by bucket
      * — the per-bucket-job form cost one Spark job per bucket (r14: 8
      * scheduler-bound jobs per tune at the gate store); batches are
      * sized from the same footer byte bound as the residency check, so
      * driver residency stays within the tuner budget at any scale
      * (lifecycle stores with large buckets degrade to batches of 1 =
      * the old streaming behavior). */
    def loadBuckets(bs: Seq[Long]): Map[Long, Seq[(HnswIndex, Array[Long], Array[Double])]] =
      df.filter(col("bucket").isin(bs.map(java.lang.Long.valueOf): _*))
        .select(col("bucket").cast("long"), col("ids"), col("attrs"), col("graph"))
        .collect().toSeq
        .groupBy(_.getLong(0))
        .map { case (b, rows) =>
          (b, rows.map(r => (HnswIndex.fromBytes(r.getAs[Array[Byte]]("graph")),
            r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray)))
        }

    // Driver-residency bound, checked BEFORE any blob lands on the
    // driver: the union measurement below streams buckets in batches
    // sized from this same bound (load, measure, drop — a batch never
    // exceeds half the budget, and a store with large buckets degrades
    // to batches of 1, the old one-at-a-time behavior) — but a store
    // whose single largest bucket outgrows the driver heap must still
    // fail loudly with a sizing rule, not OOM mid-tune. Bytes come from FOOTER column-chunk metadata keyed by
    // the bucket column's row-group statistics — genuinely no blob is
    // read for the check (a length() aggregate would scan every graph
    // blob, a multi-GB pass on a lifecycle store).
    val tunerBudget = java.lang.Long.getLong("graft.eftuner.maxBytes",
      math.max(256L << 20, Runtime.getRuntime.maxMemory() / 4))
    val (attributedBytes, spanningBytes) =
      graft.sources.ParquetMeta.maxKeyedColumnBytesSplit(
        spark, storeDataDir, "graph", "bucket")
    val maxBucketBytes = attributedBytes + spanningBytes
    // the failure message decomposes the conservative bound: spanning
    // bytes (row groups packing multiple buckets, or lacking bucket
    // stats) are charged to EVERY bucket, so a large spanning share
    // means the layout — not any actual bucket — is what's oversized,
    // and the remedy is a rewrite with bucket-aligned row groups
    require(maxBucketBytes * 2 <= tunerBudget,
      s"tuneBands: largest bucket bound is $maxBucketBytes blob bytes " +
        s"($attributedBytes attributed to a single bucket by row-group " +
        s"stats + $spanningBytes unattributable spanning/stat-less row-" +
        s"group bytes charged to every bucket); with deserialization " +
        s"overhead (2x) that exceeds the tuner's driver budget " +
        s"$tunerBudget. Tuning streams buckets in budget-bounded " +
        "batches (worst case one at a time), so if the " +
        "attributed share dominates, re-bucket the store below budget/2 " +
        "bytes per bucket or raise -Dgraft.eftuner.maxBytes (and the " +
        "driver heap with it); if the spanning share dominates, the " +
        "bound is a row-group-layout artifact — rewrite the store so " +
        "row groups don't pack multiple buckets.")

    // ---- full-union factors, one per mFull threshold ----
    // Buckets stream in budget-bounded batches (the driver-residency
    // contract): per-query candidate lists keep only k entries per
    // (bucket row, rung), so accumulators are O(sample · rungs · m · k)
    // tuples — no all-m-buckets collect and its 100×-store cliff. Each
    // distinct bucket is LOADED once for all mFull thresholds: the
    // centered slices are nested (m=2 ⊆ m=4 ⊆ m=8 around the middle
    // bucket), and a per-m loop collected the inner buckets up to three
    // times (r14: 14 filter+collect jobs per tune where the union needs
    // 8). Walk WORK is unchanged — a shared bucket is still walked at
    // each threshold's own unionWalkEf, and measuring every rung
    // (instead of early-stopping the ladder) changes cost, not the
    // chosen factor; accumulation order per (m, rung, query) changes
    // only list order, which the final sorted.take(k) makes irrelevant.
    val fullTuned = {
      val ms = deflt.full.map(_._1).sorted
      val slices: Map[Int, Set[Long]] = ms.map { m =>
        val take = math.min(m, buckets.length)
        val start = math.max(0, buckets.length / 2 - take / 2)
        (m, buckets.slice(start, start + take).toSet)
      }.toMap
      val exact = ms.map(m =>
        (m, Array.fill(sample.length)(List.empty[(Double, Long)]))).toMap
      val walked = ms.map(m =>
        (m, Array.fill(factorLadder.length, sample.length)(List.empty[(Double, Long)]))).toMap
      val rungEfs = ms.map(m =>
        (m, factorLadder.map(f => deflt.copy(full = Seq(1 -> f)).unionWalkEf(ef, k, m)))).toMap
      val needed = buckets.filter(b => ms.exists(m => slices(m)(b)))
      // batch size from the SAME conservative footer bound the residency
      // check uses: how many worst-case buckets fit half the budget —
      // clamped to the bucket count so an extreme budget/bucket ratio
      // (huge -Dgraft.eftuner.maxBytes over tiny buckets) can't
      // overflow the Int and hand grouped() a negative size
      val perBatch = math.min(
        math.max(1L, tunerBudget / 2 / math.max(1L, maxBucketBytes * 2)),
        math.max(1, needed.length).toLong).toInt
      needed.grouped(perBatch).foreach { batch =>
        val loaded = loadBuckets(batch)
        batch.foreach { b =>
          val owners = ms.filter(m => slices(m)(b))
          loaded.getOrElse(b, Seq.empty).foreach { case (idx, ids, _) =>
            val all = Array.tabulate(idx.size)(identity)
            // PARALLEL over the sample (r15): these walks are driver
            // CPU, and the serial loop left the machine idle for the
            // bulk of the tune's wall (jobs were ~0.7 s of a 2.4 s
            // query). Safe by construction: HnswIndex search/exactOver
            // are concurrent-read by design (ThreadLocal walk scratch
            // — the serving path shares instances the same way), and
            // each qi writes only its OWN accumulator slots, with the
            // outer bucket loop sequential — per-slot list order and
            // all values are unchanged (the determinism gate's
            // tuneOnce()==tuneOnce() still holds exactly).
            parallelOver(sample.length) { qi =>
              val q = sample(qi)
              val ex = idx.exactOver(q, all, k).map { case (n, d) => (d, ids(n)) }.toList
              owners.foreach { m =>
                exact(m)(qi) = ex ::: exact(m)(qi)
                rungEfs(m).zipWithIndex.foreach { case (efB, fi) =>
                  walked(m)(fi)(qi) = idx.search(q, k, efB)
                    .map { case (n, d) => (d, ids(n)) }.toList ::: walked(m)(fi)(qi)
                }
              }
            }
          }
        }
      }
      ms.map { m =>
        val truth = exact(m).map(_.sorted.take(k).map(_._2).toSet)
        val found = factorLadder.indices.find { fi =>
          var hit = 0L
          var total = 0L
          sample.indices.foreach { qi =>
            val got = walked(m)(fi)(qi).sorted.take(k).map(_._2).toSet
            hit += truth(qi).intersect(got).size
            total += truth(qi).size
          }
          total == 0 || hit.toDouble / total >= targetRecall
        }.map(factorLadder)
        if (requireTarget) require(found.isDefined,
          s"tuneBands: no full-union factor in $factorLadder reaches " +
            s"recall $targetRecall for m=$m — tuning regression, not a " +
            "silent fallback to the ladder max")
        (m, found.getOrElse(factorLadder.last))
      }.sortBy(-_._1)
    }

    // ---- in-filter widening cap, on the largest single ROW ----
    // (bucket, sub) pins ONE sub-index: a salted bucket spans several
    // rows and collecting them all to keep an enumeration-order .head
    // would waste driver memory AND break determinism
    val hasSub = df.columns.contains("sub")
    val subC = (if (hasSub) col("sub") else lit(0)).cast("int")
    val bigRow = df
      .select(col("bucket").cast("long").as("bucket"), subC.as("sub"),
        size(col("ids")).as("n"))
      .orderBy(desc("n"), col("bucket"), col("sub")).limit(1)
      .collect()(0)
    // (bucket, sub) pins one row on sub-stamped stores; a store WITHOUT
    // a sub column can hold several salted rows per bucket value, so an
    // unordered limit(1) would pick an arbitrary (possibly small) one —
    // order by size desc (xxhash64 of the blob as a deterministic
    // tie-break) so the cap is tuned on the measured largest row every
    // run, matching the bigRow selection above
    val one = df.filter(col("bucket") === bigRow.getLong(0))
      .filter(if (hasSub) col("sub") === bigRow.getInt(1)
        else org.apache.spark.sql.functions.lit(true))
      .select(col("attrs"), col("graph"))
      .orderBy(size(col("attrs")).desc, xxhash64(col("graph")))
      .limit(1).collect()(0)
    val bigIdx = HnswIndex.fromBytes(one.getAs[Array[Byte]]("graph"))
    val bigTs = one.getSeq[Double](0).toArray
    val tsIdx = new TsIndex(bigTs)
    val sortedTs = bigTs.sorted
    // memoized: the pass-1 cap sweep and the final binding-band sweep
    // evaluate overlapping (cap, band) points, and each is
    // sample-many walks + exact scans on the largest row
    val bandRecallMemo = scala.collection.mutable.HashMap.empty[(Double, Double), Double]
    def bandRecall(cap: Double, cover: Double): Double =
      bandRecallMemo.getOrElseUpdate((cap, cover), bandRecallRaw(cap, cover))
    // the ts bounds of the row's centred `cover` fraction
    def centred(cover: Double): (Double, Double) = {
      val n = sortedTs.length
      (sortedTs(math.min(n - 1, math.max(0, ((1 - cover) / 2 * n).toInt))),
        sortedTs(math.max(0, math.min(n - 1, (((1 + cover) / 2) * n).toInt - 1))))
    }
    def bandRecallRaw(cap: Double, cover: Double): Double = {
      val (lo, hi) = centred(cover)
      val slice = tsIdx.inRange(lo, hi)
      if (slice.isEmpty) return 1.0
      val table = deflt.copy(inFilterMaxFactor = cap)
      val efW = table.inFilterEf(ef, cover)
      // parallel over the sample (r15) — driver-CPU walks, same safety
      // argument as the union loop above; hit/total are exact integer
      // sums, so accumulation order cannot change the recall
      val hitA = new java.util.concurrent.atomic.AtomicLong(0L)
      val totalA = new java.util.concurrent.atomic.AtomicLong(0L)
      parallelOver(sample.length) { qi =>
        val q = sample(qi)
        val truth = bigIdx.exactOver(q, slice, k).map(_._1).toSet
        val got = SubIndexWalk.inFilter(bigIdx, bigTs, tsIdx, q, lo, hi, k, efW)
          .map(_._1).toSet
        hitA.addAndGet(truth.intersect(got).size.toLong)
        totalA.addAndGet(truth.size.toLong)
      }
      val total = totalA.get()
      if (total == 0) 1.0 else hitA.get().toDouble / total
    }
    // ---- brute-coverage crossover, on the same largest row ----
    // The scan-vs-walk dispatch line, MEASURED instead of copied from
    // the reference's hand value (hybrid_graph.cpp:117-124,355-364
    // draw it at 0.5-0.6 per dataset): both sides evaluate the same
    // int8 qdistTo unit, so the crossover derives from DETERMINISTIC
    // work counts — the scan's work is the slice length (contiguous)
    // plus its fp32 refine, the walk's is its counted coded-distance
    // evaluations (lastFilteredWalkVisits) plus the fp32 re-rank of
    // its pool. fp32 evals weigh 4× (4× the memory traffic of packed
    // int8 — second-order: both adders are O(100) against slices of
    // O(10k)). [[ScanPerEvalAdvantage]] converts eval counts to wall:
    // the scan's sequential evals are that factor cheaper than the
    // walk's random-access + heap-bookkeeping evals (measured,
    // WalkMicro, tool deleted after 77313f2). The chosen threshold is
    // the FIRST ladder rung where the walk's converted work undercuts
    // the scan's — below it the slice is scanned, at/above it walked;
    // scan-wins-everywhere emits the ladder max, walk-wins-everywhere
    // the ladder min (a sliver scan region always remains — the boosted
    // walk's 1/cover ef growth guarantees a scan-favored regime exists
    // at some scale, and the measurement, not the prior, decides where).
    val fp32W = 4.0
    // PASS-1 cap, tuned at the default binding bands (the brute line
    // is not known yet): the crossover sweep below must price the walk
    // at the cap serving will actually apply — the hand default (4.0)
    // overstates a low-coverage walk's ef up to 4× on stores that tune
    // the cap down to 1.0, which would overstate walk work and push
    // the scan region above its true crossover.
    val capPass1 = capLadder.find { cap =>
      Seq(0.62, 0.70, 0.85).forall(c => bandRecall(cap, c) >= targetRecall)
    }.getOrElse(capLadder.last)
    val bruteTuned = {
      val walkEfDeflt = deflt.copy(inFilterMaxFactor = capPass1)
      // (the FINAL cap below re-tunes at the tuned brute line's binding
      // band and can only move toward MORE widening when that band is
      // harder — a sweep priced at the pass-1 cap then under-priced the
      // walk, which lowers the brute line: the conservative direction,
      // a few percent of wall on narrow slices, never recall)
      val rung = bruteLadder.find { c =>
        val (lo, hi) = centred(c)
        val slice = tsIdx.inRange(lo, hi)
        val refineK = math.min(slice.length, math.max(k + 40, 140))
        val scanWork = slice.length + fp32W * refineK
        val efW = walkEfDeflt.inFilterEf(ef, c)
        var visits = 0L
        sample.foreach { q =>
          SubIndexWalk.inFilter(bigIdx, bigTs, tsIdx, q, lo, hi, k, efW)
          visits += bigIdx.lastFilteredWalkVisits
        }
        val walkWork = visits.toDouble / sample.length +
          fp32W * math.min(efW, math.max(slice.length, 1))
        ScanPerEvalAdvantage * walkWork < scanWork // walk wins here
      }
      rung.getOrElse(bruteLadder.last)
    }

    // The BINDING band sits just above the tuned exact-scan line:
    // recall at fixed ef degrades as coverage shrinks, so the
    // in-filter walk's hardest legal case is the narrowest slice it
    // still serves — tuning only at easier bands would let an
    // under-widening cap pass
    val capFound = capLadder.find { cap =>
      (math.min(0.85, bruteTuned + 0.02) +: Seq(0.70, 0.85))
        .distinct.forall(c => bandRecall(cap, c) >= targetRecall)
    }
    if (requireTarget) require(capFound.isDefined,
      s"tuneBands: no in-filter cap in $capLadder reaches recall " +
        s"$targetRecall — tuning regression, not a silent fallback")
    if (capFound.isEmpty)
      // same loud-under-bar contract as tuneAndPersistNprobe/IvfEf: the
      // lifecycle path (requireTarget=false) must never persist a
      // ladder-max cap that missed the bar in silence — with a tuned-low
      // brute line this is the one place a previously-exact coverage
      // region can move under-bar without a word
      println(s"WARN tuneBands: no in-filter cap in $capLadder reached " +
        s"recall $targetRecall at binding band ${math.min(0.85, bruteTuned + 0.02)} " +
        s"— persisting the ladder max (${capLadder.last}) UNDER the bar")
    val capTuned = capFound.getOrElse(capLadder.last)

    graft.operators.EfBands(fullTuned, deflt.floorExtra, capTuned, bruteTuned)
  }

  /** The lifecycle tools' tune-once entry: ONE definition of the
    * sample selection (the first 32 type-2 query vectors — range
    * queries exercise exactly the banded arms being tuned) and the
    * recall bar (0.999, the lifecycle gate's own), so ContestRun and
    * the benchmark's contest setup cannot drift apart. Tunes and persists the
    * `_ef_bands` sidecar unless the store already has one TUNED UNDER
    * THE SAME (k, ef) — the table is a function of those args, and a
    * k/ef sweep reusing the previous parameters' bands would feed the
    * banded arms effort levels tuned for a different operating point
    * (the bands-params sidecar mirrors the probes' stage stamps);
    * returns the freshly derived table (None = a matching sidecar was
    * present, nothing done). */
  def tuneAndPersistBands(spark: org.apache.spark.sql.SparkSession,
      storePath: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, ef: Int): Option[graft.operators.EfBands] = {
    import org.apache.spark.sql.functions.col
    // "v3bc": the brute-coverage crossover sweep now prices the walk at
    // the PASS-1 tuned cap instead of the hand default 4.0 (v2bc tuned
    // the line under up-to-4x overstated walk work on stores whose cap
    // lands low) — bumping the stamp re-tunes v2bc-era sidecars; "v2bc"
    // re-tuned the copied-constant-era ones before it
    val params = s"v3bc k=$k ef=$ef target=0.999"
    // ONE generation resolve at entry, pinned for the check, the
    // delete, and both writes: the table belongs to the GENERATION it
    // was measured against, so if a concurrent fold flips the store
    // mid-tune, the pair lands in (and dies with) the superseded dir
    // and the next entry re-tunes against the new content — writing
    // into a post-tune re-resolve instead could stamp bands measured
    // on old content into the NEW generation with a valid params file,
    // permanently serving stale effort levels.
    val dataDir = new java.io.File(AnnIndexStore.resolveStore(storePath))
    val bandsFile = new java.io.File(dataDir, AnnIndexStore.efBandsFileName)
    val paramsFile = new java.io.File(dataDir, AnnIndexStore.efBandsParamsFileName)
    val matches = bandsFile.exists() && paramsFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(paramsFile.toPath), "UTF-8") == params &&
      graft.operators.EfBands.parse(
        new String(java.nio.file.Files.readAllBytes(bandsFile.toPath), "UTF-8")).isDefined
    if (matches) return None
    // a MISMATCHED params file dies BEFORE the tune: a crash anywhere
    // between here and the final params write then leaves the store
    // with bands but no (or no matching) params — the next entry
    // re-tunes, the safe direction. (Bands-then-params with the stale
    // file left standing would let an old params file validate NEW
    // bands tuned under different parameters after a crash.)
    java.nio.file.Files.deleteIfExists(paramsFile.toPath)
    // crash window: params gone, (possibly stale) bands still present —
    // the banded arms may serve the old table until the re-tune, and
    // the next tuneAndPersistBands entry sees no matching params and
    // re-derives; a torn pair can never validate
    AnnIndexStore.crashPoint("bands.params_deleted")
    val qs = queries.filter(col("qtype") === 2).orderBy("qid").limit(32)
      .select("qvec").collect().map(_.getSeq[Float](0).toArray)
    // resolve = false: measure the PINNED dir, so the sidecars written
    // below are coherent with the content they were tuned against even
    // if a fold flips the store mid-tune (the flip itself is benign:
    // the pair lands in — and dies with — the superseded immutable
    // dir, and the next entry re-tunes against the live generation).
    // NO guard against the pinned dir being GC'd mid-tune, by
    // contract: tuning is an OFFLINE calibration and store maintenance
    // is single-writer — running a fold-plus-GC cycle concurrently
    // with a tune is out of contract, and the resulting read/write
    // failure is the loud signal, not a case to paper over (a partial
    // guard would either leave the long tune scan itself unguarded or
    // report tuned bands that were never persisted).
    val bands = tuneBands(spark, dataDir.getPath, qs, k,
      targetRecall = 0.999, ef = ef, resolve = false)
    AnnIndexStore.writeEfBandsAt(dataDir, bands)
    // crash window: NEW bands written, params not yet — the arms serve
    // the fresh (correct) table, and the next entry re-tunes because
    // the params stamp is absent (safe: the re-tune reproduces the
    // same deterministic table)
    AnnIndexStore.crashPoint("bands.written")
    java.nio.file.Files.write(paramsFile.toPath, params.getBytes("UTF-8"))
    Some(bands)
  }

  /** One measured nprobe rung: achieved mean routing recall@k. */
  final case class NprobeRung(nprobe: Int, recall: Double)

  /** `chosen` = smallest ladder rung whose ROUTING recall meets the
    * target (ladder max if none); rungs in measured (ladder) order. */
  final case class NprobeResult(chosen: Int, target: Double,
      rungs: Seq[NprobeRung]) {
    def chosenRecall: Double = rungs.find(_.nprobe == chosen).map(_.recall)
      .getOrElse(rungs.last.recall)
  }

  val DefaultNprobeLadder: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  /** THE routing-recall bar (one constant: the params stamp, the tune
    * target, and the gate query's require all read it — a drift
    * between the stamp literal and the target would let stores tuned
    * under an old bar "match" forever): the lifecycle's 0.995
    * END-recall gate decomposed across the two tuned knobs — end ≈
    * routing × walk, the band tuner holds walk at 0.999, so routing
    * carries 0.995/0.999 ≈ 0.996. */
  val NprobeRoutingBar: Double = 0.996

  /** Measured-recall nprobe auto-tune for a [[AnnIndexStore.buildIvf]]
    * store — the IVF route's analog of [[tune]]: the reference
    * hand-tunes every arm's effort in its per-dataset `SearchParams`
    * table (hybrid_graph.h:14-34); this derives the probe count from
    * the store itself.
    *
    * What is measured: ROUTING recall — each rung's nprobe-probed
    * candidate top-k against the all-lists top-k at the SAME `ef`.
    * nprobe controls WHICH lists are walked; ef controls the walk
    * inside each list — measuring against the all-lists ceiling
    * isolates exactly the loss this knob governs (an exact-over-base
    * truth would fold the walk's own ef loss into every rung and tune
    * two knobs with one ladder). As nprobe → nlist the recall is 1.0
    * by construction, so the ladder always terminates meaningfully.
    *
    * Execution shape (r14, chunk-bounded r15): distributed all-lists
    * candidate passes ([[AnnIndexStore.ivfWalkCandidates]] — executors
    * hold one sub-index each), then every rung is a driver-side prefix
    * merge over per-rung (hit, total) counters. DRIVER RESIDENCY is
    * bounded by the tuner budget (`-Dgraft.eftuner.maxBytes`): the
    * sample is walked in chunks sized so one chunk's candidate set
    * (chunk × listRows × k boxed tuples at a conservative 96 B each)
    * fits half the budget — a calibration-sized sample is one chunk
    * (the r14 shape), an oversized one pays extra walk passes instead
    * of OOMing mid-tune. The old per-rung form held only sample×k ids
    * but paid one search job per rung and re-walked ~2×nlist lists
    * across the ladder. Deterministic for a deterministic store
    * (seeded centroids/builds, (dist, id) ties, fixed ladder, ordered
    * sample); chunking never changes values — recall decomposes as a
    * per-query sum (NprobeTunerEquivalenceSpec). */
  def tuneNprobe(spark: org.apache.spark.sql.SparkSession, storePath: String,
      sample: Array[Array[Float]], k: Int, targetRecall: Double,
      ef: Int = 400, ladder: Seq[Int] = DefaultNprobeLadder): NprobeResult = {
    require(sample.nonEmpty, "empty tuning sample")
    require(ladder.nonEmpty && ladder == ladder.sorted, "ladder must be ascending")
    val store = AnnIndexStore.resolveStore(storePath)
    val cents = AnnIndexStore.loadCentroidsCached(spark, store)
    val nlist = cents.length
    // a rung past the list count probes every list, as the nlist rung
    // does: clamped and deduplicated, so the tuner never reports or
    // persists an nprobe the store cannot have (a 10-list store with
    // the default ladder persists 10, not 16)
    val rungLadder = ladder.map(math.min(_, nlist)).distinct
    // ONE all-lists walk instead of one searchIvf job per rung: per-list
    // walks are independent of which lists a probe set selects, so a
    // rung's searchIvf result is EXACTLY the (dist, id)-ascending top-k
    // over its probed lists' candidates — and the all-lists pass is the
    // same work the old truth rung already did. The ladder then costs
    // zero additional walks (the old form re-walked ~2× nlist lists
    // across its rungs) and one Spark job instead of ~6 (r14 measure:
    // the gate query was 80 scheduler-bound jobs for the double tune).
    // Routing uses the SAME (dist, index) centroid selection kernel as
    // the searchIvf expression route (NearestCentroids.topkArr), so the
    // probe sets are float-identical to the old per-rung searches.
    val centsFlat = cents.flatten
    val order: Array[Array[Int]] = sample.map(q =>
      org.apache.spark.sql.graft.NearestCentroids.topkArr(q, centsFlat, nlist))
    val cmp: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    // Every rung the sequential ladder COULD measure, precomputed: the
    // caller's ladder plus the deterministic doubling extension toward
    // nlist. Per-rung (hit, total) counters decompose per query, so the
    // sample can be walked in driver-residency-bounded CHUNKS (r14
    // advisory: the one-pass form held sample × listRows × k candidate
    // tuples on the driver with no guard — a large sample against a
    // large-nlist store could OOM mid-tune where the repo convention is
    // a loud budget rule). Chunking changes which rows are resident
    // together, never any value: recall(np) = Σ_q hit_q / Σ_q |truth_q|
    // in both forms (NprobeTunerEquivalenceSpec pins the rungs).
    val extension = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Int]
      var ext = rungLadder.last
      while (ext < nlist) { ext = math.min(ext * 2, nlist); b += ext }
      b.toSeq
    }
    val allRungs: Seq[Int] = rungLadder ++ extension
    val rungIdx = allRungs.zipWithIndex.toMap
    val hits = new Array[Long](allRungs.length)
    var total = 0L
    // chunk size from the tuner's driver budget and a conservative
    // per-candidate charge: each candidate is a boxed (qid, list, id,
    // dist) tuple (~96 B as JVM objects), and one query can surface at
    // most listRows × k of them. listRows comes from parquet footers —
    // no job. At calibration-sized samples this is one chunk (the r14
    // shape); only an oversized sample pays extra walk passes.
    val tunerBudget = java.lang.Long.getLong("graft.eftuner.maxBytes",
      math.max(256L << 20, Runtime.getRuntime.maxMemory() / 4))
    val listRows = math.max(1L, graft.sources.ParquetMeta.rowCount(spark,
      AnnIndexStore.resolveStore(s"$store/lists")))
    val perQueryBytes = listRows * k * 96L
    val chunkQ = math.min(
      math.max(1L, tunerBudget / 2 / math.max(1L, perQueryBytes)),
      sample.length.toLong).toInt
    sample.indices.grouped(chunkQ).foreach { chunk =>
      val qs = chunk.map(i => (i.toLong, sample(i))).toArray
      val byQidList: Map[Long, Map[Long, Array[(Double, Long)]]] =
        AnnIndexStore.ivfWalkCandidates(spark, store, qs, k, ef)
          .groupBy(_._1)
          .map { case (qid, xs) =>
            (qid, xs.groupBy(_._2).map { case (l, ys) =>
              (l, ys.map(y => (y._4, y._3)))
            })
          }
      def topIdsOf(qid: Long, nprobe: Int): Set[Long] = {
        val byList = byQidList.getOrElse(qid, Map.empty[Long, Array[(Double, Long)]])
        val cand = order(qid.toInt).iterator.take(nprobe)
          .flatMap(l => byList.getOrElse(l.toLong, Array.empty[(Double, Long)]).iterator)
          .toArray
        java.util.Arrays.sort(cand.asInstanceOf[Array[Object]],
          cmp.asInstanceOf[java.util.Comparator[Object]])
        cand.iterator.take(k).map(_._2).toSet
      }
      qs.foreach { case (qid, _) =>
        val truth = topIdsOf(qid, nlist)
        total += truth.size
        allRungs.foreach { np =>
          hits(rungIdx(np)) += truth.intersect(topIdsOf(qid, np)).size
        }
      }
    }
    def recallOf(np: Int): Double =
      if (total == 0) 1.0 else hits(rungIdx(np)).toDouble / total
    // Replay the sequential ladder semantics from the counters: same
    // rung order, same early stop, same doubling extension — the
    // reported rungs and chosen nprobe are identical to the one-pass
    // form because every rung's recall is the same per-query sum.
    val rungs = scala.collection.mutable.ArrayBuffer.empty[NprobeRung]
    var chosen = -1
    def measure(np: Int): Unit = {
      val recall = recallOf(np)
      rungs += NprobeRung(np, recall)
      if (recall >= targetRecall) chosen = np
    }
    val it = rungLadder.iterator
    while (chosen < 0 && it.hasNext) measure(it.next())
    // Ladder exhausted under the bar: extend toward nlist by doubling
    // rather than silently shipping the under-bar ladder max — the
    // nlist rung probes every list and is 1.0 vs the same-ef truth by
    // construction, so the extension always terminates AT the bar and
    // an operating point below targetRecall can never be persisted.
    // (Large stores scale nlist past any fixed ladder — the one case
    // where the old fallback served an unreceipted under-bar count.)
    val extIt = extension.iterator
    while (chosen < 0 && extIt.hasNext) measure(extIt.next())
    NprobeResult(if (chosen < 0) rungLadder.last else chosen, targetRecall,
      rungs.toSeq)
  }

  /** The lifecycle tools' tune-once entry for the IVF probe count —
    * the exact [[tuneAndPersistBands]] contract on the `_nprobe`
    * sidecar pair: ONE definition of the sample (64 qid-STRIDED type-0
    * query vectors — unfiltered queries exercise exactly the arm being
    * tuned, and striding keeps the sample representative of the whole
    * batch; the head of the qid order measured 0.9972 where the true
    * distribution routed ~0.985 at the 30M point) and the routing-recall bar (0.996: the 0.995 END-recall
    * lifecycle bar decomposed across the two tuned knobs — end ≈
    * routing × walk, the band tuner holds walk at 0.999, so routing
    * carries 0.995/0.999 ≈ 0.996; measured at the 10M point: routing
    * 0.9978 at nprobe=8 × walk ≈ 0.9997 → end 0.9975 ≥ 0.995 ✓, while
    * a routing bar above 0.998 would double the probe count for
    * recall the gate does not require); params-stamped,
    * single-writer, crash-safe in the
    * params-deleted → value-written → params-written order (a torn
    * pair can never validate; every crash direction re-tunes).
    * Returns the freshly tuned result (None = matching sidecar
    * present, nothing done). */
  def tuneAndPersistNprobe(spark: org.apache.spark.sql.SparkSession,
      storePath: String, queries: org.apache.spark.sql.DataFrame,
      k: Int, ef: Int): Option[NprobeResult] = {
    // "s64r2" names the SAMPLE protocol (64 RANK-strided type-0,
    // CEIL stride so small batches spread across the range too
    // queries): the original first-32 pick measured 0.9972 routing
    // recall on the 30M store where a strided 495-query end-recall
    // sample showed ~0.985 — the head of the qid order is not
    // distribution-representative at scale, and an over-optimistic
    // sample tunes an under-probing operating point. The stride runs
    // over the type-0 ROW RANK, not the raw qid: qids interleave all
    // four query types (type-0 is every 4th id in the contest corpus),
    // so a qid-modulus stride with an even stride value beat against
    // that interleave and kept only the head quarter-to-half of the
    // range — the exact bias the protocol exists to remove. Bumping
    // the stamp re-tunes stores sidecar'd under the old protocol.
    val params = s"s64r2 k=$k ef=$ef target=$NprobeRoutingBar"
    val dataDir = new java.io.File(AnnIndexStore.resolveStore(storePath))
    val valueFile = new java.io.File(dataDir, AnnIndexStore.nprobeFileName)
    val paramsFile = new java.io.File(dataDir, AnnIndexStore.nprobeParamsFileName)
    val matches = valueFile.exists() && paramsFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(paramsFile.toPath), "UTF-8") == params &&
      AnnIndexStore.nprobeOf(dataDir.getPath).isDefined
    if (matches) return None
    // Collect the sample BEFORE touching the sidecar pair: a batch
    // with no type-0 queries has nothing to measure the unfiltered arm
    // with — skip (leaving any existing pair intact) instead of
    // tearing the pair and then throwing on the empty sample.
    val qsOpt = s64rSample(queries)
    if (qsOpt.isEmpty) {
      println(s"WARN tuneAndPersistNprobe: no type-0 queries in the " +
        s"batch — nprobe not tuned for $storePath")
      return None
    }
    val qs = qsOpt.get
    java.nio.file.Files.deleteIfExists(paramsFile.toPath)
    // crash window: params gone, (possibly stale) value still present —
    // the IVF arms may serve the old probe count until the re-tune;
    // the next entry sees no matching params and re-derives
    AnnIndexStore.crashPoint("nprobe.params_deleted")
    val res = tuneNprobe(spark, dataDir.getPath, qs, k,
      targetRecall = NprobeRoutingBar, ef = ef)
    if (res.chosenRecall < NprobeRoutingBar)
      println(f"WARN tuneAndPersistNprobe: chosen nprobe ${res.chosen} " +
        f"routing recall ${res.chosenRecall}%.4f is BELOW the " +
        f"$NprobeRoutingBar bar (ladder and nlist extension exhausted) " +
        s"— persisting an under-bar operating point for $storePath")
    AnnIndexStore.writeNprobeAt(dataDir, res.chosen)
    // crash window: NEW value written, params not yet — the arms serve
    // the fresh (correct) count; the next entry re-tunes (safe: the
    // re-tune reproduces the same deterministic value)
    AnnIndexStore.crashPoint("nprobe.written")
    java.nio.file.Files.write(paramsFile.toPath, params.getBytes("UTF-8"))
    Some(res)
  }

  /** ONE definition of the lifecycle tuners' query sample (the s64r
    * protocol shared by the `_nprobe` and `_ivf_ef` pairs): 64
    * RANK-strided type-0 query vectors in qid order, spanning the
    * whole batch regardless of how qids interleave across query types
    * (a raw-qid stride beat against the 4-type interleave and kept
    * only the head of the range). None when the batch has no type-0
    * queries. Deterministic and driver-bounded. */
  private def s64rSample(
      queries: org.apache.spark.sql.DataFrame): Option[Array[Array[Float]]] = {
    import org.apache.spark.sql.functions.col
    val q0 = queries.filter(col("qtype") === 0)
    // qids only to the driver (8 B/row — a 250k batch is 2 MB), stride
    // the sorted list locally, then fetch just the 64 sampled rows'
    // vectors by key: a row_number window over the full (qid, qvec)
    // rows would funnel ~100 MB of vectors through ONE sort task on
    // every re-tune of either sidecar pair.
    val qids = q0.select(col("qid").cast("long")).collect().map(_.getLong(0)).sorted
    if (qids.isEmpty) None
    else {
      // CEIL division: a floor stride of 1 at 65-127 rows would pick
      // the head 64 and re-introduce exactly the head-of-range bias
      // this protocol exists to remove
      val stride = math.max(1L, (qids.length.toLong + 63) / 64)
      val picked = qids.indices.collect {
        case i if i % stride == 0 => qids(i)
      }.take(64)
      val byQid = q0
        .filter(col("qid").isin(picked.map(java.lang.Long.valueOf): _*))
        .select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
      Some(picked.map(byQid).toArray)
    }
  }

  /** THE IVF arm's end-recall bar: the lifecycle gate's own 0.995 —
    * unlike the banded arms (whose walk target composes with routing
    * through the 0.996 decomposition), the ivf-ef tuner measures END
    * recall directly at the store's tuned nprobe, so the bar is the
    * gate bar itself. */
  val IvfEndRecallBar: Double = 0.995

  /** Walk-ef rungs for [[tuneIvfEf]] — brackets the old hand CLI value
    * (400) both ways: stores whose lists walk easily (clustered, small)
    * serve k=100 at less effort; stores whose union loss at 400 left
    * them under the end bar (the 30M point's 0.9906) climb. */
  val DefaultIvfEfLadder: Seq[Int] = Seq(150, 250, 400, 600, 900)

  /** Measured end-recall ef auto-tune for the IVF walk — the third
    * tuned knob of the route (nprobe routes, `_ef_bands` governs the
    * banded arms, this governs the plain per-list walk): ladder
    * [[AnnIndexStore.searchIvf]] end recall at the store's OWN tuned
    * nprobe against the exact oracle over `base`, choose the smallest
    * rung meeting `targetRecall`. Tuning ORDER matters and is not
    * circular: nprobe is tuned first at a reference ef because routing
    * recall compares probed-vs-all-lists AT THE SAME ef (largely
    * ef-insensitive); the walk ef then absorbs exactly the residual
    * loss the routing choice left. If the ladder max misses the bar,
    * extends by doubling up to 4× (end recall is CEILINGED by routing
    * loss, so unlike the nprobe extension there is no guaranteed-1.0
    * rung — the cap plus a loud warning is the honest stop). */
  def tuneIvfEf(spark: org.apache.spark.sql.SparkSession, storePath: String,
      base: org.apache.spark.sql.DataFrame, sample: Array[Array[Float]],
      k: Int, nprobe: Int, targetRecall: Double = IvfEndRecallBar,
      ladder: Seq[Int] = DefaultIvfEfLadder): Result = {
    import org.apache.spark.sql.functions.{col, lit}
    require(sample.nonEmpty, "empty tuning sample")
    require(ladder.nonEmpty && ladder == ladder.sorted, "ladder must be ascending")
    val spark2 = spark
    import spark2.implicits._
    val queries = sample.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toSeq.toDF("qid", "qvec")
    // Exact truth collected to the driver as id SETS (sample × k rows),
    // and recall computed by INTEGER hit/total counting — the
    // tuneNprobe pattern, NOT a Spark avg of per-query Double ratios:
    // avg's merge order is not guaranteed stable run-over-run, the
    // gate's tuneOnce()==tuneOnce() compares these Doubles exactly,
    // and a ULP at the bar boundary would flip the chosen rung; a
    // join-based recall would also silently DROP a query with zero
    // result rows instead of counting its misses.
    val truth = graft.operators.KnnJoin.exactFlat(
      base.select(col("id"), col("vec"))
        .withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), k)
      .select(col("qid"), col("nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    val qsArr = sample.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val rungs = scala.collection.mutable.ArrayBuffer.empty[Rung]
    var chosen = -1
    def measure(ef: Int): Unit = {
      // searchIvfSample: the driver-resident-sample form — row-identical
      // to searchIvf on `queries`, minus the per-rung routing/collect jobs
      val got = AnnIndexStore.searchIvfSample(spark, storePath, qsArr, k, ef, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
      var hit = 0L
      var total = 0L
      truth.foreach { case (q, t) =>
        hit += t.intersect(got.getOrElse(q, Set.empty)).size
        total += t.size
      }
      val recall = if (total == 0) 1.0 else hit.toDouble / total
      rungs += Rung(ef, recall)
      if (recall >= targetRecall) chosen = ef
    }
    val it = ladder.iterator
    while (chosen < 0 && it.hasNext) measure(it.next())
    var ext = ladder.last
    while (chosen < 0 && ext < ladder.last * 4L) {
      ext = ext * 2
      measure(ext)
    }
    if (chosen < 0)
      println(f"WARN tuneIvfEf: ladder and 4x extension exhausted at " +
        f"recall ${rungs.last.recall}%.4f < $targetRecall for " +
        s"$storePath — the residual is routing loss this knob cannot " +
        "buy back (re-tune nprobe or re-cluster)")
    Result(if (chosen < 0) rungs.last.ef else chosen, targetRecall, rungs.toSeq)
  }

  /** The lifecycle tools' tune-once entry for the IVF walk ef — the
    * exact `_nprobe` pair contract on the `_ivf_ef` sidecar pair, with
    * the SAME s64r sample protocol. Tunes at the store's resolved
    * nprobe (the stamp carries it: a re-tuned probe count re-tunes the
    * walk ef too — the knobs compose). Returns the freshly tuned
    * result (None = matching sidecar present or no type-0 queries). */
  def tuneAndPersistIvfEf(spark: org.apache.spark.sql.SparkSession,
      storePath: String, base: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, k: Int,
      nprobe: Int = AnnIndexStore.AutoNprobe): Option[Result] = {
    // ONE generation resolve at entry (the tuneAndPersistBands rule) —
    // the nprobe read, the pair check, the tune, and both writes must
    // all target the SAME generation, or a concurrent fold flip could
    // tune the walk ef at an old generation's probe count and stamp it
    // into the new one.
    val dataDir = new java.io.File(AnnIndexStore.resolveStore(storePath))
    // the probe count the SEARCH will actually use — callers running
    // an nprobe A/B override pass it through, so the walk ef is always
    // tuned at the operating point it serves (the params stamp carries
    // it: a different probe count re-tunes, by the pair contract)
    val np = AnnIndexStore.resolveNprobe(dataDir.getPath, nprobe)
    val params = s"s64r2 k=$k nprobe=$np target=$IvfEndRecallBar"
    val valueFile = new java.io.File(dataDir, AnnIndexStore.ivfEfFileName)
    val paramsFile = new java.io.File(dataDir, AnnIndexStore.ivfEfParamsFileName)
    val matches = valueFile.exists() && paramsFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(paramsFile.toPath), "UTF-8") == params &&
      AnnIndexStore.ivfEfOf(dataDir.getPath).isDefined
    if (matches) return None
    val qsOpt = s64rSample(queries)
    if (qsOpt.isEmpty) {
      println(s"WARN tuneAndPersistIvfEf: no type-0 queries in the " +
        s"batch — walk ef not tuned for $storePath")
      return None
    }
    java.nio.file.Files.deleteIfExists(paramsFile.toPath)
    // crash windows mirror the nprobe pair: params-deleted → value →
    // params; a torn pair can never validate, every crash re-tunes
    AnnIndexStore.crashPoint("ivfef.params_deleted")
    val res = tuneIvfEf(spark, dataDir.getPath, base, qsOpt.get, k, np)
    if (res.rungs.last.recall < IvfEndRecallBar &&
        !res.rungs.exists(r => r.ef == res.chosenEf && r.recall >= IvfEndRecallBar))
      println(f"WARN tuneAndPersistIvfEf: persisting an under-bar walk " +
        f"ef ${res.chosenEf} for $storePath")
    AnnIndexStore.writeIvfEfAt(dataDir, res.chosenEf)
    AnnIndexStore.crashPoint("ivfef.written")
    java.nio.file.Files.write(paramsFile.toPath, params.getBytes("UTF-8"))
    Some(res)
  }

  /** One measured rung: achieved mean recall@k at `ef`. */
  final case class Rung(ef: Int, recall: Double)

  /** `chosenEf` = smallest ladder rung with recall >= target (ladder
    * max if none); `rungs` = every measured rung in ladder order. */
  final case class Result(chosenEf: Int, target: Double, rungs: Seq[Rung]) {
    def achieved: Double = rungs.last.recall
  }

  val DefaultLadder: Seq[Int] = Seq(50, 75, 100, 150, 200, 300, 425, 600)

  /** Tune ef for `idx` on a query sample against the index's own exact
    * top-k. Ladder must be ascending; measurement stops at the first
    * rung meeting `targetRecall`. Deterministic for a deterministic
    * index build (seeded level RNG + id-ordered ties). */
  def tune(idx: HnswIndex, sample: Array[Array[Float]], k: Int,
      targetRecall: Double, ladder: Seq[Int] = DefaultLadder): Result = {
    require(sample.nonEmpty, "empty tuning sample")
    require(ladder.nonEmpty && ladder == ladder.sorted, "ladder must be ascending")
    val all = Array.tabulate(idx.size)(identity)
    // parallel over the sample (r15): truth is sample × idx.size exact
    // distance evals of single-threaded driver CPU — the same §2.6
    // idle-machine shape as tuneBands' union walks, with the same
    // safety argument (exactOver/search are concurrent-read by design,
    // per-qi result slots, exact integer recall sums).
    val truth = new Array[Array[Int]](sample.length)
    parallelOver(sample.length) { qi => truth(qi) = idx.exactOver(sample(qi), all, k).map(_._1) }
    val rungs = scala.collection.mutable.ArrayBuffer.empty[Rung]
    var chosen = -1
    val it = ladder.iterator
    while (chosen < 0 && it.hasNext) {
      val ef = it.next()
      val hitA = new java.util.concurrent.atomic.AtomicLong(0L)
      val totalA = new java.util.concurrent.atomic.AtomicLong(0L)
      parallelOver(sample.length) { i =>
        val exact = truth(i)
        val got = idx.search(sample(i), k, ef).map(_._1).toSet
        var j = 0
        var hit = 0L
        while (j < exact.length) {
          if (got.contains(exact(j))) hit += 1
          j += 1
        }
        hitA.addAndGet(hit)
        totalA.addAndGet(exact.length.toLong)
      }
      val total = totalA.get()
      val recall = if (total == 0) 1.0 else hitA.get().toDouble / total
      rungs += Rung(ef, recall)
      if (recall >= targetRecall) chosen = ef
    }
    Result(if (chosen < 0) ladder.last else chosen, targetRecall, rungs.toSeq)
  }
}
