package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Five strategies, all returning deterministic DataFrames:
  *  - exact (hash groupBy)
  *  - n-gram-shingle Jaccard (exact set similarity via inverted-index join)
  *  - MinHash + LSH banding (candidate pairs at scale)
  *  - SimHash fingerprints + banded Hamming pairs
  *  - embedding-cosine near-duplicates
  *
  * Scale notes: the Jaccard path prunes the O(N²) pair space through the
  * shingle inverted index (only docs sharing a shingle meet); MinHash/LSH
  * reduces it further to band-bucket collisions — the intended 100 TB
  * path. Signatures are computed per-row with no shuffle; the only
  * shuffles are the band-key join and the final pair aggregation.
  */
object Dedup {

  // The pair miners persist() intermediates (shingle explosions, banded
  // keys) so both self-join sides reuse one exchange; every persist is
  // registered in the shared [[CacheRegistry]] and released once the
  // returned plans are materialized.
  private[graft] def tracked(df: DataFrame): DataFrame = CacheRegistry.tracked(df)

  /** Unpersist every registered intermediate (delegates to
    * [[CacheRegistry.releaseAll]]; kept for source compatibility).
    * Pass `blocking = true` from timing harnesses: the async default
    * leaves blocks resident into the next stage — the 20M dedup probe
    * measured the SimHash stage at 342.6 s under the MinHash stage's
    * ~14 GB of lagging unpersisted state vs 138.2 s isolated. */
  def releaseCaches(blocking: Boolean = false): Unit =
    CacheRegistry.releaseAll(blocking)

  /** Exact duplicate groups: (text_hash, rep_doc_id = min id, dup_count). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(
        min(col(idCol)).cast("long").as("rep_doc_id"),
        count(lit(1)).as("dup_count"))

  /** Distinct (id, shingle, n = doc's distinct-shingle count) rows — the
    * inverted-index input. Typed flatMap, not composed HOF expressions:
    * Catalyst performs no CSE inside lambda bodies, so the expression
    * form re-splits the text once per element_at call (O(len²) per doc,
    * measured 50× slower). Carrying `n` on every row costs 8 bytes but
    * lets the pair join skip a full size aggregate plus two join-backs. */
  private def explodedShingles(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = TF.shinglesJvm(TF.tokenizeJvm(t), shingleSize).distinct
        sh.map(s => (id, s, sh.length.toLong))
      }
      .toDF("doc_id", "sh", "n")
  }

  /** Exact n-gram Jaccard pairs ≥ minJaccard:
    * (doc_a, doc_b, inter, jac), doc_a < doc_b. */
  def jaccardShinglePairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.2): DataFrame = {
    // The shingle explosion feeds both self-join sides: hash-partition
    // it by shingle once and cache, so the self-join reuses the
    // partitioning with no further exchange and the explosion is
    // computed once. Set sizes ride along on the exploded rows (max()
    // folds the per-group constant), so the whole miner is one cached
    // explode + one pair aggregation — no size agg, no join-backs.
    val ex = tracked(explodedShingles(df, idCol, textCol, shingleSize)
      .repartition(col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // merge hint: the planner otherwise BROADCASTS one side of the
    // self-join (the exploded table sits under the 10 MB estimate),
    // throwing away the co-partitioning the cache exists for and paying
    // a driver collect + hash-relation build per mine. Sort-merge on the
    // co-partitioned cache is exchange-free either way and measured
    // 2.1× faster than the broadcast plan on the gate corpus (r14
    // MicroProbe, tool deleted after 77313f2: join stage 1.94 s BHJ /
    // 1.44 s SHJ / 0.93 s SMJ) —
    // and it is the only strategy of the three that stays spill-safe on
    // a hot-shingle corpus at scale.
    ex.as("a").join(ex.as("b").hint("merge"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jac"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (the AllPairs /
    * PPJoin family): shingles are globally ordered rarest-first; for a
    * threshold t, two sets with J ≥ t MUST share an element within the
    * first `|X| - ceil(t·|X|) + 1` elements of that order — so the
    * inverted index is built over prefixes only, plus a length filter
    * (t·|A| ≤ |B|), then candidates are verified exactly. Lossless:
    * returns exactly [[jaccardShinglePairs]]'s rows (asserted in
    * DedupSpec), but the index join touches a fraction of the postings —
    * the scale path for high thresholds (dedup runs at t ≥ 0.5).
    * (doc_a, doc_b, inter, jac), doc_a < doc_b. */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.2): DataFrame = {
    val ex = explodedShingles(df, idCol, textCol, shingleSize)
    val freq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc shingle list in (global rarest-first, shingle) order
    val sorted = tracked(ex.join(freq, "sh")
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, sh))), x -> x.sh)").as("shs"))
      .withColumn("n", size(col("shs")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val prefixes = sorted.select(col("doc_id"), col("n"),
      explode(slice(col("shs"), lit(1),
        (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int"))).as("sh"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= ceil(lit(minJaccard) * col("a.n")) &&
          col("a.n") >= ceil(lit(minJaccard) * col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sorted.select(col("doc_id").as("doc_a"), col("shs").as("sa"), col("n").as("na")), "doc_a")
      .join(sorted.select(col("doc_id").as("doc_b"), col("shs").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jac"))
  }

  /** Size-routed exact Jaccard pairs: the inverted-index join computes
    * every co-occurring doc pair per shingle — a hot shingle shared by
    * p docs contributes p² join rows, which is fine at survey-corpus
    * sizes but quadratic in the worst posting at scale. Above
    * `prefixAbove` rows this routes to [[jaccardPrefixPairs]] (AllPairs
    * prefix filtering — indexes only each doc's rarest-first prefix, so
    * hot shingles stop being join keys), proven row-identical in
    * DedupSpec; below it the plain inverted-index join wins on constant
    * factors. Lossless either way — only the physical plan changes. */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.2,
      prefixAbove: Long = 100000, sizeHint: Option[Long] = None): DataFrame =
    // sizeHint: caller-known row count of df — when set, routing costs
    // zero jobs (otherwise one count()). An inaccurate hint only
    // mis-routes the physical plan, never changes the rows.
    if (sizeHint.getOrElse(df.count()) > prefixAbove)
      jaccardPrefixPairs(df, idCol, textCol, shingleSize, minJaccard)
    else
      jaccardShinglePairs(df, idCol, textCol, shingleSize, minJaccard)

  /** Per-doc MinHash signature (array<long> of length numHashes); docs
    * with no shingles are dropped. One md5 per distinct shingle +
    * numHashes universal-hash mixes, computed JVM-side in a typed map
    * (see [[explodedShingles]] for why not composed HOF expressions). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, shingleSize: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val as = Array.tabulate(numHashes)(TF.minhashA)
    val bs = Array.tabulate(numHashes)(TF.minhashB)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = TF.shinglesJvm(TF.tokenizeJvm(t), shingleSize).distinct
        if (sh.isEmpty) None
        else {
          val hs = sh.map(TF.hash28Jvm)
          val mh = Array.tabulate(numHashes) { j =>
            var m = Long.MaxValue
            hs.foreach { h => val v = (as(j) * h + bs(j)) % TF.MinhashP; if (v < m) m = v }
            m
          }
          Some((id, mh))
        }
      }
      .toDF("doc_id", "mh")
  }

  /** LSH candidate pairs: docs sharing ≥1 of `bands` band keys, with the
    * estimated similarity = fraction of matching minhash components.
    * (doc_a, doc_b, est_sim), doc_a < doc_b, distinct.
    *
    * `bandGroups` > 1 switches to BAND-SEQUENTIAL execution: the band
    * set is partitioned into that many groups and each group's
    * banded-key shuffle + self-join runs as its own materialized pass
    * (signatures computed once, cached across passes). The pair set is
    * identical by construction — the union over all bands of per-band
    * matches does not depend on which pass a band ran in; pairs matching
    * in bands of different groups are collapsed by the final
    * dropDuplicates (est_sim is a pure function of the pair, so any
    * survivor carries the same value). What changes is the PEAK
    * transient footprint: the banding exchange is the algorithm's one
    * unavoidable shuffle and its volume is linear in docs × bands — one
    * pass spills bands/bandGroups of it, which is exactly the knob that
    * fits a 100M-doc mine onto a single node whose scratch the one-shot
    * shuffle exceeded (BASELINE.md round-9 boundary; on a cluster the
    * same knob caps per-executor scratch instead). */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 3,
      bandGroups: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(bandGroups >= 1 && bands % bandGroups == 0,
      "bandGroups must partition the band set")
    val rows = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)
    // signatures are the expensive scan (one md5 per distinct shingle):
    // when mining in multiple passes, compute once and reuse; a single
    // pass reads them exactly once through its banded cache, so an
    // extra signature cache would only waste block-manager space
    val src =
      if (bandGroups == 1) sig
      else tracked(sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bpg = bands / bandGroups

    /** One mining pass over bands [lo, hi]: materialize the banded keys
      * hash-partitioned on the join key (the band self-join reads both
      * sides from the same cached partitioning with no exchange), then
      * emit the pass's distinct (doc_a, doc_b, est_sim). */
    def minePass(lo: Int, hi: Int): (DataFrame, DataFrame) = {
      val banded = src.select(
          col("doc_id"), col("mh"),
          explode(sequence(lit(lo), lit(hi))).as("band"))
        .withColumn("band_key",
          md5(expr(s"cast(array_join(transform(slice(mh, band * $rows + 1, $rows), " +
            "x -> cast(x as string)), ',') as binary)")))
        .repartition(col("band"), col("band_key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // merge hint: same rationale as jaccardShinglePairs — the planner
      // otherwise broadcasts one side of the self-join (under the 10 MB
      // estimate), discarding the co-partitioned banded cache this pass
      // just materialized and rebuilding it as a driver hash relation
      val pairs = banded.as("a")
        .join(banded.as("b").hint("merge"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.mh").as("mha"), col("b.mh").as("mhb"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("est_sim",
          graft.functions.TextFunctions.arrayEqCount(col("mha"), col("mhb")) /
            lit(numHashes).cast("double"))
        .select(col("doc_a"), col("doc_b"), col("est_sim"))
      (pairs, banded)
    }

    if (bandGroups == 1) {
      val (pairs, banded) = minePass(0, bands - 1)
      tracked(banded) // released with the operator's cache set
      pairs
    } else {
      // measured while the pass's frame is live, released at the next
      // pass's start, once nothing here still reaches its shuffle
      var passBytes = 0L
      val perGroup = (0 until bandGroups).map { g =>
        if (g > 0) releasePassShuffles(passBytes)
        val (pairs, banded) = minePass(g * bpg, (g + 1) * bpg - 1)
        // eager: this pass's shuffle/cache is fully consumed HERE, so
        // its scratch can be dropped before the next pass allocates
        val done = pairs.localCheckpoint(true)
        passBytes = shuffleBytesWritten(pairs)
        banded.unpersist(blocking = true)
        done
      }
      perGroup.reduce(_.unionByName(_)).dropDuplicates("doc_a", "doc_b")
    }
  }

  /** Reclaim a finished band pass's shuffle files. They are only
    * deleted when the driver GC collects the now-unreachable
    * ShuffleDependency (the eager localCheckpoint truncates the
    * lineage, but Spark has no public eager shuffle-release API;
    * ContextCleaner reacts to collection) — without a nudge,
    * sequential passes STACK their shuffle files (~14 GB each at 100M
    * docs) and re-fill the scratch the banding split exists to
    * protect. The pause gives the (async, blocking-per-item) cleaner
    * thread time to unlink before the next pass allocates, so it runs
    * only BETWEEN passes: after the last one no band shuffle
    * allocates, the same state the one-shot mode never pauses in. Under
    * -XX:+DisableExplicitGC the gc is a no-op and the cleaner's own
    * cadence must be trusted instead. The caller must hold no
    * reference to the finished pass's frame here, or the gc cannot
    * collect its shuffle. A pass that wrote less than
    * [[PassGcMinShuffleBytes]] of shuffle files (`passBytes`, its
    * exchanges' write metrics, [[shuffleBytesWritten]]) leaves too
    * little to reclaim to be worth the pause, so the next pass starts
    * at once. */
  private def releasePassShuffles(passBytes: Long): Unit =
    if (passBytes >= PassGcMinShuffleBytes) {
      System.gc()
      Thread.sleep(PassGcPauseMs)
    }

  private val PassGcPauseMs = 2000L
  // Far under one pass of a scale that fills scratch (~14 GB at 100M
  // docs), far over a test or sf-sized corpus's whole mine.
  private val PassGcMinShuffleBytes = 64L << 20

  /** Bytes of shuffle files that `df`'s executed plan wrote, summed
    * over its exchanges' write metrics, through adaptive query stages
    * (also those under a part the adaptive plan replaced with an empty
    * relation once a stage came back empty) and into the plans of the
    * caches it scanned (a cache built by an earlier action counts
    * again: an overestimate). 0 before an action ran the plan. */
  private[operators] def shuffleBytesWritten(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{EmptyRelationExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.metric.SQLShuffleWriteMetricsReporter
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: EmptyRelationExec =>
        e.logical.collect { case s: LogicalQueryStage => walk(s.physicalPlan) }.sum
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case e: ShuffleExchangeLike =>
        e.metrics.get(SQLShuffleWriteMetricsReporter.SHUFFLE_BYTES_WRITTEN).fold(0L)(_.value) +
          e.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Per-doc SimHash fingerprint over distinct-token hashes: (doc_id, simhash). */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame =
    df.select(
        col(idCol).cast("long").as("doc_id"),
        transform(array_distinct(TF.tokens(col(textCol))), t => TF.hash60(t, 97)).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("simhash", TF.simhashFromHashes(col("hs"), bits))
      .select(col("doc_id"), col("simhash"))

  /** SimHash near-pairs with Hamming distance ≤ maxHamming, found by the
    * banded pigeonhole trick: split the fingerprint into `blocks`
    * chunks — a pair within the radius differs in ≤ maxHamming blocks,
    * so it matches exactly on some (blocks − maxHamming)-subset; keying
    * on every such subset guarantees a collision (the multi-block
    * scheme of Manku/Jain/Sarma, WWW'07 §3).
    *
    * `blocks` defaults to maxHamming + 1 (subsets are single blocks —
    * the textbook pigeonhole). That key is only bits/(maxHamming+1)
    * wide, which stops scaling once 2^width ≈ corpus size: at 48 bits /
    * Hamming 3 the 12-bit key gives 4096 buckets, so a 10M-doc corpus
    * averages ~2400 docs per bucket and the band self-join enumerates
    * ~10^10 candidate pairs. Raising `blocks` widens the key to
    * (blocks − maxHamming)·(bits/blocks) bits at C(blocks, maxHamming)×
    * the banded-row count — e.g. bits=60, maxHamming=3, blocks=6 keys
    * 30 bits (10^9 buckets) on 20 rows/doc, collapsing the candidate
    * set to true near-dups + O(N²/2^30) random collisions. The width
    * is a floor against bucket explosion, NOT an optimization target:
    * the band count C(blocks, maxHamming) multiplies shuffle volume on
    * ALL rows while collisions only tax the colliding tail, so hold
    * blocks at the minimum where 2^width ≥ ~N/100 (measured at 20M
    * docs: 60/6 = 30-bit keys/20 bands beat 56/8 = 35-bit keys/56
    * bands by 2×; BASELINE.md band-width A/B).
    *
    * Output size: the pair CONTRACT is every pair within the radius, so
    * c identical-fingerprint docs contribute C(c, 2) rows no matter how
    * they are found — on a corpus whose most-duplicated text has
    * millions of copies, run [[exactGroups]] first and near-dup only
    * the representatives (the composed queries do exactly this).
    *
    * Above 64 bits the fingerprint is carried as BLOCK VALUES
    * (array<long>, one element per block — [[TF.simhashBlocks]]); the
    * banding, collapse, and expansion below are representation-agnostic.
    * That is the >100M-doc scale path: the 20M A/B showed key width
    * must grow with log2(N) while the band count must NOT — a wider
    * fingerprint at the same `blocks` (e.g. bits=120, blocks=6 → 60-bit
    * keys, 20 bands) is the only config move that does both. */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, maxHamming: Int = 3, blocks: Int = 0,
      bandGroups: Int = 1): DataFrame = {
    val b = if (blocks > 0) blocks else maxHamming + 1
    require(b > maxHamming, s"blocks ($b) must exceed maxHamming ($maxHamming)")
    require(bits % b == 0, s"blocks ($b) must divide bits ($bits)")
    val w = bits / b
    require(w <= 63, s"block width $w must fit a long")
    val wide = bits > 60
    val fp =
      if (!wide) simhashFingerprints(df, idCol, textCol, bits)
      else df.select(
          col(idCol).cast("long").as("doc_id"),
          transform(array_distinct(TF.tokens(col(textCol))), t => TF.hash60(t, 97)).as("hs"))
        .filter(size(col("hs")) > 0)
        .withColumn("simhash", TF.simhashBlocks(col("hs"), bits, b))
        .select(col("doc_id"), col("simhash"))
    val mask = (1L << w) - 1
    // every (b − maxHamming)-subset of block indexes becomes one band:
    // band id = subset index, band key = the subset's block values —
    // packed little-endian into one long for the ≤ 60-bit fingerprint,
    // the subset's elements of the block array for the wide one (hash
    // partitioning and join equality both support array<long> keys)
    val combos = (0 until b).combinations(b - maxHamming).toArray
    val keyStructs = combos.zipWithIndex.map { case (combo, i) =>
      val key =
        if (wide) array(combo.map(c => col("simhash").getItem(c)).toIndexedSeq: _*)
        else expr(combo.zipWithIndex.map { case (c, j) =>
          s"shiftleft(shiftright(simhash, ${c * w}) & $mask, ${j * w})"
        }.reduce((a, x) => s"($a | $x)"))
      struct(lit(i).as("chunk"), key.as("chunk_val"))
    }
    val hamming: (Column, Column) => Column =
      if (wide) (sa, sb) => TF.blockHamming(sa, sb)
      else (sa, sb) => bit_count(sa.bitwiseXOR(sb)).cast("long")
    // Fingerprint collapse: docs with IDENTICAL fingerprints (exact
    // duplicates and token-set-equal docs — 20-40% of a real training
    // corpus) form hamming-0 cliques that would otherwise multiply
    // through every band key and concentrate the self-join into hot
    // buckets. Band one representative per DISTINCT fingerprint, emit
    // within-clique pairs from a self-join, and expand cross-fingerprint
    // pairs back over the clique members at the end — result-identical,
    // join input shrinks by the dup rate, worst bucket shrinks from
    // (largest clique × collisions) to collisions.
    //
    // Every step below is a codegen hash aggregate or hash join over the
    // persisted compact (doc_id, simhash) frame — a handful of longs per
    // row, the
    // expensive full-text fingerprint pass is what the cache guards. The
    // previous formulation collapsed via groupBy + collect_list(members):
    // collect_list forces ObjectHashAggregate, whose sort-based fallback
    // trips at 128 DISTINCT KEYS PER TASK (spark.sql.objectHashAggregate
    // .sortBased.fallbackThreshold) — with ~0.9 distinct fingerprints
    // per doc every task degraded to an external sort of its whole
    // partition, the stage's dominant cost at probe scale (BASELINE.md
    // 20M A/B: 138.2 s before, measured after this rework below).
    val fpc = tracked(fp
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // persisted: feeds the banded derivation AND the two post-band
    // rep→fingerprint joins below (compact — 3 longs-ish per DISTINCT
    // fingerprint)
    val reps = tracked(fpc.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("csize"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // within-clique pairs: all C(c, 2) pairs of docs sharing a
    // fingerprint — self-join the members of multi-doc cliques
    val multi = fpc.join(
      reps.filter(col("csize") >= 2).select(col("simhash")), Seq("simhash"))
    val within = multi.as("x")
      .join(multi.as("y"),
        col("x.simhash") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // The banded frame is NOT persisted: both join sides re-derive it
    // from `reps` (explode + shuffle only), so the banded rows land in
    // shuffle files instead of the block-manager memory pool. At 10M
    // docs the cached banded copy was tens of GB: an 84g-heap probe run
    // persisting it was OOM-killed by the kernel; the unpersisted rerun
    // held 13.7 GB RSS at the same stage.
    //
    // The banded rows carry ONLY (rep, band key) — not the fingerprint.
    // The fingerprint is not needed until hamming verification, and
    // rep ↔ fingerprint is 1:1, so it joins back from the persisted
    // `reps` AFTER the band join + pair dedup. Carrying it through the
    // banding exchange multiplies its bytes by the band count over
    // every distinct fingerprint: at 50M docs / 120-bit block-array
    // fingerprints the banded exchange is ~1B rows and the fingerprint
    // payload alone is ~25 GB of shuffle — the delta that overflowed an
    // 80 GB scratch disk (the two post-join hash joins against `reps`
    // touch only the collided PAIR set, orders of magnitude smaller).
    def bandCandidates(ks: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val banded = reps.select(col("rep"),
          explode(array(ks: _*)).as("band"))
        .select(col("rep"),
          col("band.chunk").as("chunk"), col("band.chunk_val").as("chunk_val"))
        .repartition(col("chunk"), col("chunk_val"))
      banded.as("a")
        .join(banded.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
            col("a.rep") < col("b.rep"))
        .select(col("a.rep").as("ra"), col("b.rep").as("rb"))
        // rep ↔ fingerprint is 1:1, so (ra, rb) dedups the band multiplicity
        .dropDuplicates("ra", "rb")
    }
    // bandGroups > 1 = BAND-SEQUENTIAL mining, same contract as
    // minhashLshCandidates: the C(blocks, maxHamming) band set is split
    // into that many groups and each group's banding exchange +
    // self-join runs as its own eagerly-materialized pass. The candidate
    // set is a union over bands, independent of which pass a band ran
    // in, so the result is identical; the peak shuffle scratch — the
    // banded frame spilled by BOTH sides of the self-join — divides by
    // the group count. This is the knob that fits the 100M-doc SimHash
    // mine on one node (the one-shot 20-band exchange is ~2×35 GB of
    // sort spill there); on a cluster it caps per-executor scratch.
    require(bandGroups >= 1 && keyStructs.length % bandGroups == 0,
      s"bandGroups ($bandGroups) must partition the ${keyStructs.length} bands")
    var passBytes = 0L
    val candReps =
      if (bandGroups == 1) bandCandidates(keyStructs.toIndexedSeq)
      else keyStructs.grouped(keyStructs.length / bandGroups).toSeq
        // eager: each pass's shuffle is fully consumed here, so its
        // scratch is reclaimable before the next pass allocates
        .zipWithIndex.map { case (g, i) =>
          // measured now, released at the next pass's start, as in
          // minhashLshCandidates
          if (i > 0) releasePassShuffles(passBytes)
          val pass = bandCandidates(g.toIndexedSeq)
          val done = pass.localCheckpoint(true)
          passBytes = shuffleBytesWritten(pass)
          done
        }
        .reduce(_.unionByName(_))
        .dropDuplicates("ra", "rb")
    val crossReps = candReps
      .join(reps.select(col("rep").as("ra"), col("simhash").as("sa")), "ra")
      .join(reps.select(col("rep").as("rb"), col("simhash").as("sb")), "rb")
      .withColumn("hamming", hamming(col("sa"), col("sb")))
      .filter(col("hamming") <= maxHamming)
    // expand representative pairs over both cliques' members (two hash
    // joins against the cached fingerprint frame); member sets are
    // disjoint across fingerprints, so orient each pair by value
    val cross = crossReps
      .join(fpc.select(col("simhash").as("sa"), col("doc_id").as("a0")), "sa")
      .join(fpc.select(col("simhash").as("sb"), col("doc_id").as("b0")), "sb")
      .select(least(col("a0"), col("b0")).as("doc_a"),
        greatest(col("a0"), col("b0")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Connected components over a near-dup pair graph — the cluster
    * assignment step of corpus dedup (every doc maps to the minimum
    * doc id reachable through pair edges; keep one representative per
    * cluster, drop the rest). Iterative min-label propagation: each
    * round every node adopts the smallest label among itself and its
    * neighbors, until a fixpoint — O(diameter) rounds, each one join +
    * aggregate over the edge list. Near-dup graphs have tiny diameters
    * (clusters are quasi-cliques), so this converges in 2-3 rounds at
    * any corpus size; the driver-side loop only inspects a change
    * COUNT per round, never the data.
    *
    * nodes: one column `idCol`; pairs: (doc_a, doc_b) undirected.
    * Returns (doc_id, cluster_rep), cluster_rep = min id in component —
    * including singleton docs (their own rep). */
  def nearDupComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 20, driverPairsBelow: Long = 2000000,
      pairCountHint: Option[Long] = None): DataFrame = {
    val p = tracked(pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // near-dup pair sets are tiny relative to the corpus (only dup-ish
    // docs appear); below the threshold a driver-side union-find beats
    // a multi-round distributed loop by the per-round job overhead.
    // Above it, fall through to the distributed propagation.
    //
    // The driver path is bounded BY CONSTRUCTION: it fetches at most
    // driverPairsBelow + 1 rows via take(), never an open-ended
    // collect() — so an under-estimating pairCountHint cannot OOM the
    // driver; overflow falls through to the distributed loop (which
    // reuses the persisted pair cache the probe just warmed).
    // pairCountHint's only job is to skip the take() probe when the
    // caller already knows the pair set is big.
    val takeProbe: Option[Array[org.apache.spark.sql.Row]] =
      if (pairCountHint.forall(_ <= driverPairsBelow)) {
        val cap = math.min(driverPairsBelow, Int.MaxValue - 2L).toInt
        val rows = p.take(cap + 1)
        if (rows.length <= cap) Some(rows) else None
      } else None
    takeProbe.foreach { pairRows =>
      val spark = nodes.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairRows.foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val reps = parent.keys.map(k => (k, find(k))).toSeq
      if (reps.isEmpty)
        return nodes.select(col(idCol).cast("long").as("doc_id"))
          .withColumn("cluster_rep", col("doc_id"))
      val repDf = broadcast(reps.toDF("doc_id", "rep"))
      return nodes.select(col(idCol).cast("long").as("doc_id"))
        .join(repDf, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
    }
    // Partitioned by dst — the JOIN key: the cached frame's hash
    // partitioning is then reused by every round's edge join, so the
    // 2|pairs|-row edge list never re-shuffles inside the loop (only
    // the labels side moves). Partitioning by src (the old layout)
    // bought nothing: the join is on dst, and the groupBy(src) shuffles
    // the join OUTPUT regardless.
    val edges = pairs.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .unionByName(pairs.select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tracked(edges)
    var labels = nodes.select(col(idCol).cast("long").as("doc_id"))
      .withColumn("cluster_rep", col("doc_id"))
    // Convergence detection rides on monotonicity, not a join: every
    // round takes per-doc least(...), so labels are non-increasing and
    // the doc set is fixed — the label SUM is strictly decreasing until
    // the fixpoint, then constant. One exact decimal aggregate over the
    // checkpointed frame replaces the old changed-count join (two more
    // 50M-row shuffles per round at the probe point).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_rep").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // candidate label per node = min over (own label, neighbors' labels)
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster_rep")).as("nbr_rep"))
      // Eager local checkpoints, not persists, for both per-round
      // frames: (a) `stepped` feeds BOTH sides of the pointer-doubling
      // self-join — unmaterialized, its whole chain (edge join + agg)
      // would execute twice per round; (b) a persisted frame keeps its
      // FULL lineage, so round N would pin every earlier round's
      // shuffle files (recompute might need them) — ~30 GB of dead
      // scratch per round at the 50M probe point, which overflowed an
      // 80 GB disk twice. Truncated lineage bounds live state to two
      // rounds' blocks; the System.gc() nudge lets the ContextCleaner
      // reclaim older rounds' blocks and shuffle files mid-loop (its
      // own periodic GC defaults to 30-minute intervals, longer than
      // the whole loop).
      val stepped = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_rep"), coalesce(col("nbr_rep"), col("cluster_rep"))).as("cluster_rep"))
        .localCheckpoint(eager = true)
      // pointer-doubling: replace each label by its label's label, so a
      // chain of length D resolves in O(log D) rounds instead of D —
      // maxRounds then bounds diameter 2^maxRounds, not maxRounds.
      val next = stepped.as("x")
        .join(stepped.select(col("doc_id").as("cluster_rep"),
          col("cluster_rep").as("rep2")).as("y"), Seq("cluster_rep"), "left")
        .select(col("doc_id"),
          least(col("cluster_rep"), coalesce(col("rep2"), col("cluster_rep"))).as("cluster_rep"))
        .localCheckpoint(eager = true)
      val s = labelSum(next)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      round += 1
      System.gc()
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupComponents did not converge in $maxRounds rounds " +
          s"(component diameter exceeds 2^$maxRounds?) — raise maxRounds")
    labels
  }

  /** Leakage-safe train/val/test split: assigns every near-dup CLUSTER —
    * not every doc — to one split, so no duplicate pair ever straddles
    * train and eval. A doc-keyed hash split leaves that contamination
    * channel open: of an exact or near-dup pair, one side can land in
    * train and the other in test, and the model is then evaluated on
    * (a copy of) its own training data. Keying the same deterministic
    * md5 split hash by the cluster REPRESENTATIVE instead closes it by
    * construction — all members inherit the rep's draw.
    *
    * Composition of two existing operators: components over the
    * dup-pair graph ([[nearDupComponents]] — driver union-find small,
    * distributed pointer-doubling large), then the md5 split used for
    * doc-level splits applied to `cluster_rep`. Output:
    * (doc_id, cluster_rep, split). Cut points are percents of the
    * 32-bit hash space: [0, trainPct) train, [trainPct, trainPct +
    * valPct) val, rest test. Singleton docs (no dup pair) are their own
    * rep, so they split exactly as the doc-keyed hash would. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10,
      pairCountHint: Option[Long] = None): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"cut points must partition [0,100): train=$trainPct val=$valPct")
    nearDupComponents(docs.select(col(idCol)), idCol, pairs,
        pairCountHint = pairCountHint)
      .withColumn("h",
        conv(substring(md5(concat(lit("split:"), col("cluster_rep").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("h") < trainPct, "train")
          .when(col("h") < trainPct + valPct, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_rep"), col("split"))
  }

  /** Embedding near-duplicate pairs with cosine ≥ minCosine:
    * (id_a, id_b, cos), id_a < id_b.
    *
    * Exact all-pairs by default. With `allowApprox` set and more than
    * `lshAbove` rows, the all-pairs crossJoin is a cartesian product no
    * cluster survives, so the operator switches to the SRP-banded miner
    * ([[SimilaritySearch.lshCosineCandidates]]) — band-bucket collisions
    * verified by the same exact cosine, approximate in recall only (every
    * returned pair is exact and above the threshold). The trade-away of
    * recall is opt-in: without `allowApprox` the result is always the
    * exact pair set, however large the input. The switch costs one
    * count() at plan-build time. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, lshAbove: Long = 200000,
      numPlanes: Int = 16, bands: Int = 4,
      allowApprox: Boolean = false, sizeHint: Option[Long] = None): DataFrame = {
    // sizeHint skips the routing count() (see jaccardPairsAuto)
    if (allowApprox && sizeHint.getOrElse(df.count()) > lshAbove)
      return SimilaritySearch.lshCosineCandidates(
        df, idCol, vecCol, minCosine, numPlanes, bands)
    // norms are computed once per ROW, not once per PAIR: the O(N²)
    // inner loop does 1 inner product instead of 3. Same double
    // arithmetic as CosineSimilarity (dot / (sqrt(Σa²)·sqrt(Σb²))).
    // SmallBase: the stream side of the nested-loop join otherwise runs
    // the whole N² loop in the scan's ONE split (single-row-group gate
    // parquet) — this branch is the documented small-n configuration.
    val v = SmallBase.parallelize(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")))
      .withColumn("nrm", VF.norm2(col("vec")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos",
        VF.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= minCosine)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then drop every row that has a LOWER-id
    * in-cluster neighbor with cosine ≥ `minCosine` — the same
    * keep-the-earliest policy as `dedup_survivors`, restricted to cluster
    * interiors. (id, cluster, kept ∈ {0,1}).
    *
    * Scale shape: the cluster assignment is one scan with a folded
    * centroid literal (no shuffle — [[SimilaritySearch.clusterAssign]]);
    * the pair stage self-joins ON the cluster key, so the quadratic is
    * bounded by Σ sizeᵢ² instead of N² — at 100 TB `nClusters` grows with
    * N to hold cluster interiors at ~10⁴-10⁵ rows (the paper runs ~100k
    * clusters at billion-doc scale); above `lshAbove` rows (opt-in via
    * `allowApprox`, same contract as [[cosineNearDupPairs]]) the pair
    * stage routes through the SRP-banded miner keyed inside clusters
    * ([[SimilaritySearch.lshCosineCandidates]] `withinCol`) without
    * changing the drop rule. Deterministic hash-seeded centroids keep the
    * exact path engine-reproducible (DuckDB-oracle-checkable). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, minCosine: Double = 0.4,
      lshAbove: Long = 200000, allowApprox: Boolean = false,
      sizeHint: Option[Long] = None): DataFrame = {
    // assignment computed INLINE on the base scan (folded centroid
    // literal + codegen argmin), not joined back from clusterAssign —
    // an id-keyed join here would shuffle the full vector column twice
    // at scale for a value that is a pure per-row expression
    val cents = SimilaritySearch.seededCentroids(df, idCol, vecCol, nClusters)
    val centsFlat = typedLit(cents.flatten)
    val v = tracked(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("nrm", VF.norm2(col("vec")))
        .withColumn("cluster",
          element_at(VF.nearestCentroids(col("vec"), centsFlat, lit(1)), 1).cast("long"))
        .persist())
    // Above `lshAbove` rows (opt-in), cluster interiors are too big for
    // the exact pair join even cluster-bounded; the SRP miner keyed by
    // (cluster, band, band_val) mines candidates only inside clusters —
    // the same exact-cosine verify, probabilistic candidate recall.
    // Both paths are EXISTENTIAL (left-semi, verify folded into the join
    // condition): the drop rule only asks "is there any lower-id
    // neighbor ≥ τ", so each probe row early-exits at its first match
    // and nothing pair-shaped is materialized — in the dense-duplicate
    // regime this operator exists for, the pair-set form went quadratic
    // (43 GB shuffle at 2M rows, BASELINE.md).
    val approx = allowApprox && sizeHint.getOrElse(df.count()) > lshAbove
    val drops =
      if (approx)
        SimilaritySearch.lshCosineDropIds(v, "id", "vec", minCosine,
          withinCol = Some("cluster"))
      else
        v.as("b").join(v.as("a"),
            col("a.cluster") === col("b.cluster") && (col("a.id") < col("b.id")) &&
              VF.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))
                >= minCosine,
            "left_semi")
          .select(col("id"))
    v.select(col("id"), col("cluster"))
      .join(drops.withColumn("dropped", lit(1L)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        when(col("dropped").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
  }

  /** Cross-document duplicated-span statistics — the per-document signal
    * behind exact-substring training-data dedup (Lee et al. 2022,
    * arXiv:2107.06499: suffix-array repeated spans; here the
    * fixed-window approximation of it): for each document, the fraction
    * of its positional `window`-token shingles that also occur in at
    * least one OTHER document. (doc_id, n_windows, n_dup, dup_frac).
    *
    * Scale shape: one typed flatMap produces per-doc (window-hash,
    * count) rows — multiplicity aggregated INSIDE the row loop, so the
    * shuffle carries distinct-per-doc windows only (same volume as the
    * Jaccard inverted index); document frequency is one hash aggregate
    * over that index; the join back is window-keyed and AQE handles hot
    * boilerplate windows. Nothing is quadratic — at 100 TB this is two
    * shuffles over the window index, each map-side combined.
    *
    * Windows shuffle as their md5-derived 60-bit hash ([[TF.hash60Jvm]]
    * — engine-reproducible, so the oracle mirrors it), NOT the window
    * text: the raw 3-token strings are ~30 B against the hash's 8, and
    * at the 50M-doc probe point (≈4.9B index rows) the string-keyed
    * exchanges were 200+ GB — the stage overflowed an 80 GB scratch
    * disk twice before any aggregate ran. Distinct windows colliding in
    * the 60-bit space would slightly overcount dup mass (birthday term
    * ≈ n²/2⁶¹ — order 1 event at ~1.5B DISTINCT windows); both engines
    * hash identically, so the driver gate is unaffected even then. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, cacheIndex: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // (doc_id, shingle, in-doc multiplicity, total windows in doc).
    // cacheIndex = false recomputes the flatMap for the join probe side
    // instead of persisting the index — at ≥ tens of millions of docs
    // the cached index (~N·windows rows) outgrows memory AND local
    // disk, and one extra tokenization pass is far cheaper than a
    // multi-hundred-GB MEMORY_AND_DISK spill.
    val wBase =
      df.select(col(idCol).cast("long"), col(textCol).cast("string"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val sh = TF.shinglesJvm(TF.tokenizeJvm(t), window)
          val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
          sh.foreach { s =>
            val h = TF.hash60Jvm(s)
            m.update(h, m.getOrElse(h, 0L) + 1L)
          }
          m.iterator.map { case (h, c) => (id, h, c, sh.length.toLong) }.toSeq
        }
        .toDF("doc_id", "sh", "c", "n")
    val w = if (cacheIndex) tracked(wBase.persist()) else wBase
    val dfreq = w.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
    val per = w.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_windows"),
        sum(when(col("ndocs") >= 2, col("c")).otherwise(lit(0L))).as("n_dup"))
    // docs shorter than the window have zero shingles — surface them with
    // zero counts rather than dropping them from the profile
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(when(coalesce(col("n_windows"), lit(0L)) > 0,
            coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_windows"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** Span-level exact-substring dedup REMOVAL — the ACTION form of
    * [[duplicatedSpanStats]]'s signal (Lee et al. 2022,
    * arXiv:2107.06499 remove all-but-one occurrence of duplicated
    * substrings; here the fixed-`window`-token approximation of the
    * suffix-array spans): for every `window`-token shingle that occurs
    * in ≥ 2 distinct documents, the occurrence in the LOWEST doc_id
    * survives; every token position covered by a non-surviving
    * occurrence is stripped, and the document is rebuilt from its
    * remaining tokens (whitespace normalized to single spaces — the
    * tokenizer's contract). Deterministic: the keep rule is min
    * doc_id, so the output is a pure function of the corpus.
    *
    * Output: (doc_id, n_tokens, n_removed, new_text).
    *
    * Scale shape: the positional window index (doc_id, pos, hash60) is
    * the only corpus-sized intermediate — windows shuffle as 60-bit
    * hashes like [[duplicatedSpanStats]] (never the window text);
    * per-hash doc-frequency + canonical doc is one distinct + one hash
    * aggregate; marked occurrences come back through one hash join
    * (AQE absorbs hot boilerplate windows); per-doc covered positions
    * are collected as a bounded int list (≤ doc length — collect_list's
    * sort fallback is harmless at that width) and the interval
    * expansion/rebuild runs row-local. Nothing is quadratic.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = window
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("string").as("text"))
    // one row per window OCCURRENCE (position retained — removal needs it,
    // unlike the stats profile's per-doc multiplicity collapse)
    val occ = base.as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = TF.shinglesJvm(TF.tokenizeJvm(t), w)
        Iterator.tabulate(sh.length)(p => (id, p, TF.hash60Jvm(sh(p))))
      }
      .toDF("doc_id", "pos", "sh")
    val stats = occ.select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("ndocs"), min(col("doc_id")).as("keep_doc"))
    val marked = occ.join(stats.filter(col("ndocs") >= 2), "sh")
      .filter(col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id"), col("pos"))
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    base.join(perDoc, Seq("doc_id"), "left")
      .withColumn("toks", TF.tokens(col("text")))
      // covered position set = union of [p, p+w-1] over marked starts,
      // expanded/deduped row-local (no exploded shuffle)
      .withColumn("drops",
        when(col("starts").isNull, array().cast("array<integer>"))
          .otherwise(array_sort(array_distinct(flatten(
            transform(col("starts"), p => sequence(p, p + lit(w - 1))))))))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("drops")).cast("long").as("n_removed"),
        array_join(expr("filter(toks, (x, i) -> NOT array_contains(drops, i))"), " ")
          .as("new_text"))
  }

  // ---- incremental (batch-vs-store) dedup ----

  /** Per-doc dedup-store footprint: (doc_id, text_hash = md5 hex,
    * simhash) — what a continuous-ingestion pipeline PERSISTS between
    * batches instead of the corpus itself (≈ 50 bytes/doc: at 100 TB /
    * ~10¹¹ docs the store is a few TB of parquet while the archived
    * text never gets re-scanned). `simhash` is null for token-less
    * docs (they can still exact-match). Fingerprints match
    * [[simhashFingerprints]] bit-for-bit (same seed-97 hash60 over the
    * distinct token set), so a store written by one round of this
    * function keys compatibly with every later batch. */
  def fingerprintStore(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 48): DataFrame = {
    require(bits <= 60, s"long-fingerprint store supports bits <= 60, got $bits")
    df.select(
        col(idCol).cast("long").as("doc_id"),
        md5(col(textCol).cast("binary")).as("text_hash"),
        transform(array_distinct(TF.tokens(col(textCol))), t => TF.hash60(t, 97)).as("hs"))
      .select(col("doc_id"), col("text_hash"),
        when(size(col("hs")) > 0, TF.simhashFromHashes(col("hs"), bits))
          .as("simhash"))
  }

  /** Incremental dedup: grade a NEW batch against a persisted
    * fingerprint store ([[fingerprintStore]] rows for everything
    * ingested so far) plus itself, without touching historical text —
    * the continuous-ingestion form of corpus dedup (the batch twin of
    * streaming first-wins dedup, and what a daily 100 TB crawl drop
    * actually runs: re-mining the whole archive per batch is the
    * O(corpus) anti-pattern the store exists to avoid).
    *
    * Output: one row per batch doc — (doc_id, verdict, dup_of) with
    * verdict precedence `exact_store` > `exact_batch` > `near_store` >
    * `near_batch` > `unique`; `dup_of` = the winning claimant (min
    * store id with the same text hash / first batch id with the same
    * hash / min store id within Hamming ≤ maxHamming / lowest earlier
    * batch id within the radius; null for unique). Claimants claim by
    * id regardless of their own verdict (first-wins chains, matching
    * [[graft.streaming.EventPipeline]]'s streaming dedup rule).
    *
    * Scale shape: the batch fingerprint pass is one scan of the BATCH;
    * exact matching is a hash join on text_hash (AQE broadcasts the
    * distinct batch hashes when the daily batch ≪ store — the usual
    * regime); near matching bands BOTH sides with the same
    * (blocks − maxHamming)-subset keys as [[simhashNearPairs]]
    * (pigeonhole-complete, so banding ≡ a direct Hamming filter) and
    * joins batch bands against store bands — the store side is
    * O(store × bands) rows of two longs, and a production store keeps
    * that banded form as its physical layout (partitioned by band
    * bucket) so each batch probes, never re-derives. Band multiplicity
    * is absorbed by the min() aggregate — no pair-dedup shuffle. */
  def incrementalVerdicts(store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, bits: Int = 48, maxHamming: Int = 3,
      blocks: Int = 0): DataFrame = {
    val b = if (blocks > 0) blocks else maxHamming + 1
    require(b > maxHamming, s"blocks ($b) must exceed maxHamming ($maxHamming)")
    require(bits % b == 0, s"blocks ($b) must divide bits ($bits)")
    require(bits <= 60, s"incremental store path supports bits <= 60, got $bits")
    val w = bits / b
    val mask = (1L << w) - 1
    val bfp = tracked(fingerprintStore(batch, idCol, textCol, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sfp = store.select(col("doc_id").cast("long").as("doc_id"),
      col("text_hash"), col("simhash"))

    val exStore = sfp.select(col("doc_id").as("sid"), col("text_hash"))
      .join(bfp.select(col("doc_id"), col("text_hash")), "text_hash")
      .groupBy(col("doc_id")).agg(min(col("sid")).as("exact_store_of"))
    val firstInBatch = bfp.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("first_id"))
    val exBatch = bfp.join(firstInBatch, "text_hash")
      .filter(col("doc_id") > col("first_id"))
      .select(col("doc_id"), col("first_id").as("exact_batch_of"))

    // same band keys as simhashNearPairs: every (b − maxHamming)-subset
    // of blocks, packed little-endian — equality on any subset is
    // implied by Hamming ≤ maxHamming (pigeonhole), so the band join
    // finds EXACTLY the within-radius pairs after the Hamming filter
    val combos = (0 until b).combinations(b - maxHamming).toArray
    val keyStructs = combos.zipWithIndex.map { case (combo, i) =>
      val key = expr(combo.zipWithIndex.map { case (c, j) =>
        s"shiftleft(shiftright(simhash, ${c * w}) & $mask, ${j * w})"
      }.reduce((a, x) => s"($a | $x)"))
      struct(lit(i).as("chunk"), key.as("chunk_val"))
    }
    def banded(fp: DataFrame): DataFrame = fp
      .filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"),
        explode(array(keyStructs.toIndexedSeq: _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.chunk").as("chunk"), col("band.chunk_val").as("chunk_val"))
    val bb = banded(bfp)
    val nearStore = bb.as("q")
      .join(banded(sfp).as("s"),
        col("q.chunk") === col("s.chunk") && col("q.chunk_val") === col("s.chunk_val"))
      .filter(bit_count(col("q.simhash").bitwiseXOR(col("s.simhash"))) <= maxHamming)
      .groupBy(col("q.doc_id").as("doc_id"))
      .agg(min(col("s.doc_id")).as("near_store_of"))
    val nearBatch = bb.as("x")
      .join(bb.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val") &&
          col("y.doc_id") < col("x.doc_id"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= maxHamming)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(min(col("y.doc_id")).as("near_batch_of"))

    bfp.select(col("doc_id"))
      .join(exStore, Seq("doc_id"), "left")
      .join(exBatch, Seq("doc_id"), "left")
      .join(nearStore, Seq("doc_id"), "left")
      .join(nearBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_store_of").isNotNull, lit("exact_store"))
          .when(col("exact_batch_of").isNotNull, lit("exact_batch"))
          .when(col("near_store_of").isNotNull, lit("near_store"))
          .when(col("near_batch_of").isNotNull, lit("near_batch"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("exact_store_of"), col("exact_batch_of"),
          col("near_store_of"), col("near_batch_of")).as("dup_of"))
  }
}
