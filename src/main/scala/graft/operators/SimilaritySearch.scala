package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** Similarity search over embedding columns.
  *
  * Two paths:
  *  - brute-force cosine top-k: the exact baseline (streams the base
  *    once, partial top-k per partition, no base shuffle);
  *  - signed-random-projection LSH: deterministic seeded hyperplanes
  *    give every row a bucket signature; candidates are bucket
  *    collisions (with 1-bit-flip multi-probe), re-ranked exactly.
  *    The scale path — candidate count ≈ N/2^planes × probes per query.
  */
object SimilaritySearch {

  /** Exact cosine top-k: (qid, rank, nid), rank by (cos desc, id asc),
    * self-matches excluded when ids collide. */
  def bruteForceCosineTopK(base: DataFrame, queries: DataFrame, k: Int): DataFrame =
    broadcast(queries).crossJoin(base)
      .filter(col("id") =!= col("qid"))
      .withColumn("negcos", -VF.cosineSim(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("negcos"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))

  /** Deterministic Gaussian hyperplanes. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Signed-random-projection signature: bit j = (vec · plane_j) > 0. */
  def srpSignature(vec: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(VF.dot(vec, typedLit(p)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) approximate kNN: k-means centroids as the
    * coarse quantizer — base rows are assigned to their nearest centroid
    * ("list"); each query probes only its `nprobe` nearest lists and
    * exact-ranks the candidates. The classic IVF-Flat layout, fully
    * DataFrame-native: the only joins are query→list (broadcast) and
    * the bounded top-k merge. At scale the list assignment is a
    * persisted clustered layout (write `partitionBy("list")` once) and
    * probing prunes partitions exactly like [[graft.operators.Layouts]].
    *
    * The quantizer is trained on a bounded driver-side sample (the
    * standard IVF recipe at any scale — Lloyd's on ≤ `sampleCap`
    * points costs milliseconds), then both the base assignment and the
    * query probes are literal-folded centroid expressions: one sample
    * collect, zero training jobs, no shuffle beyond the top-k merge.
    * For a non-uniformly-laid-out base at scale pass `sampleFraction`
    * < 1 so the prefix-limit sample is randomized first.
    *
    * base: (id, vec); queries: (qid, qvec) → (qid, rank, nid). */
  def ivfKnn(base: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 7L,
      sampleCap: Int = 16384, sampleFraction: Double = 1.0,
      maxIter: Int = 10): DataFrame = {
    val sampleDf = if (sampleFraction < 1.0) base.sample(withReplacement = false, sampleFraction, seed) else base
    val sample = sampleDf.select(col("vec")).limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    ivfSearch(base, queries, k, lloydKMeans(sample, nlist, maxIter, seed), nprobe)
  }

  /** IVF with a hash-seeded coarse quantizer: the centroids are the
    * vectors of the `nlist` base rows ranked first by the md5-derived
    * key of "ivfseed:<id>" (a deterministic uniform sample — the
    * classic random-seed IVF baseline), and the list index is the rank
    * by id among the picked seeds. Unlike the k-means path (whose
    * float-rounded Lloyd centroids no SQL engine can reproduce), every
    * stage here — seed pick, list assignment, probe set, exact re-rank —
    * is engine-reproducible, so the whole IVF pipeline can be
    * hash-checked by the DuckDB oracle. Recall trails k-means at equal
    * nlist (seeds aren't density-balanced) but the layout, probing and
    * re-rank semantics are identical. */
  def ivfKnnSeeded(base: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val picked = base
      .select(col("id").cast("long").as("id"), col("vec"))
      .withColumn("h",
        conv(substring(md5(concat(lit("ivfseed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), col("id")).limit(nlist)
      .select(col("id"), col("vec"))
      .collect()
      .sortBy(_.getLong(0))
    require(picked.nonEmpty, "ivfKnnSeeded: empty base table")
    ivfSearch(base, queries, k, picked.map(_.getSeq[Float](1).toArray), nprobe)
  }

  /** Embedding-space cluster assignment for corpus curation (semantic
    * bucketing, domain mixing, per-cluster sampling): every row gets the
    * index of its nearest centroid plus the exact squared-L2 to it.
    * Centroids come from the same hash-seeded deterministic pick as
    * [[ivfKnnSeeded]] — so the whole assignment (seed pick, tie-breaks,
    * distance arithmetic) is engine-reproducible and oracle-checkable —
    * or pass `centroids` trained elsewhere (e.g. [[lloydKMeans]]) for
    * the quality path. One scan, no shuffle: the centroid matrix is a
    * folded literal and the assignment is a per-row codegen expression.
    * (id, vec) → (id, cluster, dist). */
  /** The deterministic hash-seeded centroid pick behind [[clusterAssign]]
    * (and [[Dedup.semanticDedup]]): rows ordered by md5("ivfseed:" + id)
    * take the first `nClusters` slots, re-sorted by id — a bounded
    * top-k collect, reproducible by any engine with an md5 function. */
  private[graft] def seededCentroids(df: DataFrame, idCol: String,
      vecCol: String, nClusters: Int): Array[Array[Float]] = {
    val picked = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("h",
        conv(substring(md5(concat(lit("ivfseed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), col("id")).limit(nClusters)
      .select(col("id"), col("vec"))
      .collect()
      .sortBy(_.getLong(0))
    require(picked.nonEmpty, "clusterAssign: empty input")
    picked.map(_.getSeq[Float](1).toArray)
  }

  def clusterAssign(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, centroids: Array[Array[Float]] = null): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val cents =
      if (centroids != null) centroids
      else seededCentroids(df, idCol, vecCol, nClusters)
    val dim = cents(0).length
    val centsFlat = typedLit(cents.flatten)
    base
      .withColumn("cluster",
        element_at(VF.nearestCentroids(col("vec"), centsFlat, lit(1)), 1).cast("long"))
      // exact squared-L2 to the assigned centroid: slice the folded
      // centroid matrix at the assigned row (1-based slice start)
      .withColumn("dist",
        VF.l2Sq(col("vec"),
          slice(centsFlat, (col("cluster") * dim + 1).cast("int"), lit(dim))))
      .select(col("id"), col("cluster"), col("dist"))
  }

  /** Product-quantization ADC kNN with hash-seeded codebooks — the
    * classic IVF-PQ memory-bandwidth play for embedding corpora at
    * scale: the base is stored as `m` sub-codes (here `m` ints per row,
    * m·8 bits) instead of `dim` floats, each query precomputes one
    * m×ksub distance TABLE, and candidate distances are `m` table
    * lookups — an asymmetric-distance-computation (ADC) scan that reads
    * ~50× less per base row than a full-vector pass. Candidates are
    * then exact-re-ranked from the full vectors, the same two-stage
    * refine as [[Quantization.refineKnn]] (reference
    * hybrid_graph.cpp:206-229, :465-494 — PQ replaces SQ8 as the
    * stage-1 code).
    *
    * Every stage is engine-reproducible, so the WHOLE pipeline is
    * DuckDB-oracle-checkable (like [[ivfKnnSeeded]], unlike a k-means
    * codebook whose Lloyd rounding no SQL engine replays): codebook =
    * the `ksub` rows ranked first by md5("pqseed:"++id) sliced into `m`
    * subspaces; encode = per-subspace argmin (ties by centroid index);
    * table/ADC arithmetic = sequential double accumulation in subspace
    * order; both top-k stages ordered by (dist, id).
    *
    * Plan shape: one bounded seed collect; encode is a per-row codegen
    * projection (native NearestCentroids per subspace over folded
    * literals, no shuffle); stage 1 is broadcast(queries) × (id, codes)
    * with per-pair cost m element_at lookups; stage 2 re-ranks only
    * refineK candidates. base: (id, vec); queries: (qid, qvec) →
    * (qid, rank, nid). */
  def pqKnnSeeded(base: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 16, refineK: Int = 50): DataFrame = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val picked = b
      .withColumn("h",
        conv(substring(md5(concat(lit("pqseed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), col("id")).limit(ksub)
      .select(col("id"), col("vec"))
      .collect()
      .sortBy(_.getLong(0))
    require(picked.nonEmpty, "pqKnnSeeded: empty base table")
    val cents = picked.map(_.getSeq[Float](1).toArray) // ksub × dim
    pqKnnWithCodebook(b, queries, k, m, refineK, cents)
  }

  /** Trained-codebook PQ-ADC kNN — the QUALITY path. The standard PQ
    * training recipe: `m` independent Lloyd's k-means runs, one per
    * subspace, over the subspace slices of a hash-spread bounded sample
    * (the same sampling recipe as [[graft.index.AnnIndexStore.buildIvf]]
    * — a prefix `limit()` at warehouse scale is one file's locality).
    * Per-subspace training is what separates this from
    * [[pqKnnSeeded]]'s picked-rows codebook: seeded sub-codebooks are
    * slices of the SAME ksub rows, so their resolution is capped by how
    * well ksub whole rows cover the corpus (measured at 2M clustered
    * rows: recall@10 = 0.12 at refineK=100), while trained codebooks
    * give each subspace its own ksub cells. Lloyd float rounding is not
    * SQL-replayable, so correctness is recall-floored in specs, not
    * oracle-hashed — exactly the IVF seeded/trained split
    * ([[ivfKnnSeeded]] vs [[ivfKnn]]). */
  def pqKnnTrained(base: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 256, refineK: Int = 100,
      sampleCap: Int = 16384, maxIter: Int = 10, seed: Long = 7L): DataFrame = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val nRows = b.select(count(lit(1))).collect()(0).getLong(0)
    require(nRows > 0, "pqKnnTrained: empty base table")
    val stride = math.max(1L, nRows / math.max(1, sampleCap))
    val sample = b
      .filter(pmod(hash(col("id")), lit(stride)) === 0)
      .select(col("vec")).limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    val dim = sample(0).length
    require(dim % m == 0, s"pqKnnTrained: dim $dim not divisible by m=$m")
    val sub = dim / m
    val subBooks = Array.tabulate(m)(j =>
      lloydKMeans(sample.map(_.slice(j * sub, (j + 1) * sub)), ksub, maxIter, seed + j))
    // assemble ksub full-dim rows (row c's j-th slice = sub-codebook j's
    // cell c) so the trained books flow through the same flat-codebook
    // kernels (PqAdcTable derives ksub from the flat length)
    val kk = subBooks.map(_.length).min
    val cents = Array.tabulate(kk)(c =>
      Array.tabulate(dim)(i => subBooks(i / sub)(c)(i % sub)))
    pqKnnWithCodebook(b, queries, k, m, refineK, cents)
  }

  /** Shared PQ-ADC body over an assembled `ksub × dim` codebook (each
    * row's j-th slice is sub-codebook j's cell): encode, ADC scan,
    * exact refine. See [[pqKnnSeeded]] for the plan shape. */
  private def pqKnnWithCodebook(b: DataFrame, queries: DataFrame, k: Int,
      m: Int, refineK: Int, cents: Array[Array[Float]]): DataFrame = {
    val ksub = cents.length
    val dim = cents(0).length
    require(dim % m == 0, s"pq codebook: dim $dim not divisible by m=$m")
    val sub = dim / m
    // per-subspace codebooks as folded flat literals (ksub × sub each)
    val subCents = Array.tabulate(m)(j =>
      typedLit(cents.flatMap(_.slice(j * sub, (j + 1) * sub))))

    // encode: codes[j] = argmin over the j-th sub-codebook of the j-th
    // vector slice (NearestCentroids ties break toward the lower index,
    // matching the oracle's (dist, c) row_number)
    def codesOf(vec: Column): Column = array(Array.tabulate(m)(j =>
      element_at(VF.nearestCentroids(
        slice(vec, j * sub + 1, sub), subCents(j), lit(1)), 1)): _*)
    // MATERIALIZE the codes: left as a lazy projection, the encode
    // expression is deferred into the ADC pair loop and re-evaluated
    // per (query × base-row) pair — measured 3.3e13 flops (m·ksub·sub
    // per pair) instead of per base row at 2M × 1000; the probe's scan
    // stage sat at ~13 min of pure NearestCentroids. Persisting the
    // (id, codes) frame pins the one-pass encode; it is also the honest
    // PQ shape — codes ARE the stored representation (m ints per row,
    // the ~50× read reduction the operator exists for), so the pinned
    // frame is tiny relative to the base. Registered in CacheRegistry
    // for the shared release lifecycle.
    val encoded = CacheRegistry.tracked(
      b.withColumn("codes", codesOf(col("vec")))
        .select(col("id"), col("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // per-query ADC table: entry j·ksub + c = l2²(qvec_slice_j,
    // cent_c_slice_j). ONE native expression over the flat codebook —
    // the composed form (an array() of m·ksub l2Sq-over-slice
    // subexpressions) exceeds Janino's 64 KB method limit at ksub=256
    // and silently drops the stage to interpreted eval; the native
    // kernel's arithmetic is bit-identical (sequential double
    // accumulation, ascending index), so the oracle hash is unchanged.
    val q = queries.select(col("qid").cast("long").as("qid"), col("qvec"))
      .withColumn("adc_table",
        VF.pqAdcTable(col("qvec"), typedLit(cents.flatten), lit(m)))

    // stage 1: ADC = m table lookups per (query, code-row) pair,
    // summed in subspace order; top-refineK by (adc, id)
    val adcExpr = VF.pqAdcSum(col("codes"), col("adc_table"), lit(ksub))
    val cand = broadcast(q.select(col("qid"), col("adc_table"))).crossJoin(encoded)
      .filter(col("id") =!= col("qid"))
      .withColumn("adc", adcExpr)
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(refineK, col("adc"), col("id")).as("cands"))
      .select(col("qid"), explode(col("cands")).as("id"))

    // stage 2: exact re-rank of the candidate set from the full vectors.
    // The candidate side (nq × refineK rows) is the broadcast build side
    // by construction — never the base, whatever its size estimate.
    broadcast(cand.join(broadcast(q.select(col("qid"), col("qvec"))), "qid"))
      .join(b, "id")
      .withColumn("dist", VF.l2Sq(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("dist"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))
  }

  /** IVF-PQ with residual encoding — the composition both probe reports
    * called for (BASELINE.md "PQ-ADC at 2M": a brute ADC scan never
    * beats a brute exact scan; PQ's levers are scan BYTES and IVF
    * routing so the scan touches `nprobe` lists, not the corpus — the
    * reference's own architecture, hybrid_graph.cpp:306-333 routes
    * before it scans). The coarse quantizer routes exactly like
    * [[ivfKnnSeeded]]; within the probed lists candidates are ranked by
    * PQ-ADC over RESIDUALS (vec − assigned centroid — Jégou et al.'s
    * IVFADC); then exact refine. Residual encoding is where IVF-PQ
    * recall comes from at low bits/dim: the codebook only has to
    * resolve the residual spread (≈ one list's width), not the whole
    * domain, so the "cell edge vs cluster width" threshold the PQ probe
    * measured moves down by the coarse quantizer's resolution.
    *
    * Seeded variant: coarse centroids are the md5("ivfseed:")-picked
    * rows and the PQ codebook is the md5("pqseed:")-picked rows'
    * RESIDUALS — every stage (both seed picks, assignment, float
    * residual subtraction, per-subspace argmin encode, per-(query,list)
    * ADC table over the query's residual, both top-k orders) is
    * engine-reproducible, so the whole route is DuckDB-hash-checked
    * (`ann_ivfpq_knn`). Residual subtraction stays in FLOAT (Spark's
    * `zip_with` float arithmetic ≡ DuckDB's FLOAT − FLOAT — verified,
    * not assumed); all distance accumulation is double, as everywhere.
    *
    * base: (id, vec); queries: (qid, qvec) → (qid, rank, nid). */
  def ivfPqKnnSeeded(base: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      refineK: Int = 50): DataFrame = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val coarse = seededCentroids(b, "id", "vec", nlist)
    // PQ codebook = the pqseed-picked rows' residuals vs THEIR assigned
    // coarse centroid (assignment twin of NearestCentroids k=1: double
    // accumulation, (dist, index) ties)
    val book = seededResidualBook(b, ksub, coarse)
    ivfPqSearch(b, queries, k, coarse, nprobe, m, refineK, book)
  }

  /** The seeded residual codebook shared by [[ivfPqKnnSeeded]] and
    * [[graft.index.AnnIndexStore.buildIvfPqSeeded]]: the `ksub`
    * md5("pqseed:")-picked rows' residuals vs THEIR assigned coarse
    * centroid, in id order. */
  private[graft] def seededResidualBook(b: DataFrame, ksub: Int,
      coarse: Array[Array[Float]]): Array[Array[Float]] = {
    val picked = b
      .withColumn("h",
        conv(substring(md5(concat(lit("pqseed:"), col("id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .orderBy(col("h"), col("id")).limit(ksub)
      .select(col("id"), col("vec"))
      .collect()
      .sortBy(_.getLong(0))
    require(picked.nonEmpty, "seededResidualBook: empty base table")
    picked.map { r =>
      val v = r.getSeq[Float](1).toArray
      val c = coarse(nearestIdx(v, coarse))
      Array.tabulate(v.length)(i => v(i) - c(i)) // float subtraction
    }
  }

  /** Trained IVF-PQ — the QUALITY path: Lloyd coarse quantizer plus
    * per-subspace Lloyd codebooks over the sample's residuals (the
    * standard IVFADC training recipe). Lloyd rounding is not
    * SQL-replayable, so correctness is recall-floored in specs — the
    * same seeded/trained split as [[ivfKnnSeeded]]/[[ivfKnn]] and
    * [[pqKnnSeeded]]/[[pqKnnTrained]]. */
  def ivfPqKnnTrained(base: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 256,
      refineK: Int = 100, sampleCap: Int = 16384, maxIter: Int = 10,
      seed: Long = 7L): DataFrame = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val (coarse, book) = trainedIvfPqBooks(b, nlist, m, ksub, sampleCap, maxIter, seed)
    ivfPqSearch(b, queries, k, coarse, nprobe, m, refineK, book)
  }

  /** The trained (coarse, residual-codebook) pair of
    * [[ivfPqKnnTrained]]: Lloyd coarse quantizer on a hash-spread
    * bounded sample, then `m` per-subspace Lloyd runs over the
    * sample's residuals. */
  private def trainedIvfPqBooks(b: DataFrame, nlist: Int, m: Int,
      ksub: Int, sampleCap: Int, maxIter: Int,
      seed: Long): (Array[Array[Float]], Array[Array[Float]]) = {
    val nRows = b.select(count(lit(1))).collect()(0).getLong(0)
    require(nRows > 0, "trainedIvfPqBooks: empty base table")
    val stride = math.max(1L, nRows / math.max(1, sampleCap))
    val sample = b
      .filter(pmod(hash(col("id")), lit(stride)) === 0)
      .select(col("vec")).limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    val dim = sample(0).length
    require(dim % m == 0, s"trainedIvfPqBooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    val coarse = lloydKMeans(sample, nlist, maxIter, seed)
    val residuals = sample.map { v =>
      val c = coarse(nearestIdx(v, coarse))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val subBooks = Array.tabulate(m)(j =>
      lloydKMeans(residuals.map(_.slice(j * sub, (j + 1) * sub)), ksub, maxIter, seed + j))
    val kk = subBooks.map(_.length).min
    val book = Array.tabulate(kk)(c =>
      Array.tabulate(dim)(i => subBooks(i / sub)(c)(i % sub)))
    (coarse, book)
  }

  /** Residual of `vec` against the `list`-th centroid of the folded
    * flat centroid literal: FLOAT subtraction (Spark `zip_with` float
    * arithmetic ≡ DuckDB FLOAT − FLOAT — the oracle-mirroring
    * invariant every IVF-PQ consumer relies on). */
  private[graft] def pqResidualCol(vec: Column, list: Column,
      centsFlat: Column, dim: Int): Column =
    zip_with(vec, slice(centsFlat, (list * dim + 1).cast("int"), lit(dim)),
      (a, bb) => a - bb)

  /** Per-subspace argmin PQ encode of a residual column over the
    * per-subspace folded codebook literals (NearestCentroids ties break
    * toward the lower index, matching the oracle's (dist, c)
    * row_number). */
  private[graft] def pqCodesCol(res: Column, subBooks: Array[Column],
      m: Int, sub: Int): Column =
    array(Array.tabulate(m)(j =>
      element_at(VF.nearestCentroids(
        slice(res, j * sub + 1, sub), subBooks(j), lit(1)), 1)): _*)

  /** The per-subspace folded codebook literals of an assembled
    * `ksub × dim` codebook. */
  private[graft] def pqSubBooks(book: Array[Array[Float]], m: Int,
      sub: Int): Array[Column] =
    Array.tabulate(m)(j => typedLit(book.flatMap(_.slice(j * sub, (j + 1) * sub))))

  /** Driver twin of [[org.apache.spark.sql.graft.NearestCentroids]] at
    * k = 1: double accumulation over the float values, strict `<` so
    * ties keep the lowest index. */
  private[graft] def nearestIdx(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var s = 0.0; var i = 0
      val cv = cents(c)
      while (i < v.length) {
        val d = v(i).toDouble - cv(i).toDouble; s += d * d; i += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Shared IVF-PQ body: assign + residual-encode the base (persisted
    * compact (id, list, codes) — codes ARE the stored representation,
    * the m-byte-per-row scan the operator exists for), probe nprobe
    * lists per query with a per-(query,list) ADC table over the QUERY's
    * residual against that list's centroid, ADC-rank within the probed
    * lists only, exact refine. Every join is broadcast-from-the-query
    * side; the base is scanned once for the encode and once (codes
    * only) per query batch. */
  private def ivfPqSearch(b: DataFrame, queries: DataFrame, k: Int,
      coarse: Array[Array[Float]], nprobe: Int, m: Int, refineK: Int,
      book: Array[Array[Float]]): DataFrame = {
    val dim = coarse(0).length
    require(dim % m == 0, s"ivfPq codebook: dim $dim not divisible by m=$m")
    val ksub = book.length
    val sub = dim / m
    val centsFlat = typedLit(coarse.flatten)
    val bookFlat = typedLit(book.flatten)
    val subBooks = pqSubBooks(book, m, sub)

    // one-pass assign + encode, persisted compact (the PQ probe's
    // deferred-projection lesson: left lazy, the encode re-runs inside
    // the pair loop)
    val encoded = CacheRegistry.tracked(
      b.withColumn("list",
          element_at(VF.nearestCentroids(col("vec"), centsFlat, lit(1)), 1))
        .withColumn("codes",
          pqCodesCol(pqResidualCol(col("vec"), col("list"), centsFlat, dim), subBooks, m, sub))
        .select(col("id"), col("list"), col("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // nprobe lists per query; each (qid, list) row carries the ADC
    // table of the query's residual against that list
    val probed = queries
      .select(col("qid").cast("long").as("qid"), col("qvec"))
      .withColumn("list",
        explode(VF.nearestCentroids(col("qvec"), centsFlat,
          lit(math.min(nprobe, coarse.length)))))
      .withColumn("adc_table",
        VF.pqAdcTable(pqResidualCol(col("qvec"), col("list"), centsFlat, dim), bookFlat, lit(m)))

    // stage 1: ADC within the probed lists only (each base row lives in
    // exactly one list, so (qid, id) pairs are already unique)
    val cand = broadcast(probed.select(col("qid"), col("list"), col("adc_table")))
      .join(encoded, "list")
      .filter(col("id") =!= col("qid"))
      .withColumn("adc", VF.pqAdcSum(col("codes"), col("adc_table"), lit(ksub)))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(refineK, col("adc"), col("id")).as("cands"))
      .select(col("qid"), explode(col("cands")).as("id"))

    // stage 2: exact re-rank from the full vectors; candidate side is
    // the broadcast build side by construction
    val q = queries.select(col("qid").cast("long").as("qid"), col("qvec"))
    broadcast(cand.join(broadcast(q), "qid"))
      .join(b, "id")
      .withColumn("dist", VF.l2Sq(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("dist"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))
  }

  /** Shared IVF-Flat search body: base rows are assigned to their
    * nearest centroid ("list"), each query probes its `nprobe` nearest
    * lists, candidates are exact-ranked. The only joins are the
    * broadcast query→list probe and the bounded top-k merge. */
  private def ivfSearch(base: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    // one flat centroid-matrix literal + the native NearestCentroids
    // expression: O(nlist) codegen instead of an nlist-way struct tree
    val centsFlat = typedLit(centroids.flatten)
    val assigned = base
      .withColumn("list",
        element_at(VF.nearestCentroids(col("vec"), centsFlat, lit(1)), 1))
      .select(col("id"), col("vec"), col("list"))
    // nprobe nearest lists per query
    val probed = queries
      .select(col("qid"), col("qvec"),
        explode(VF.nearestCentroids(col("qvec"), centsFlat,
          lit(math.min(nprobe, centroids.length)))).as("list"))
    broadcast(probed).join(assigned, "list")
      .filter(col("id") =!= col("qid"))
      .withColumn("dist", VF.l2Sq(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("dist"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))
  }

  /** Seeded k-means++ init + Lloyd's iterations on a driver-side
    * sample: the IVF coarse quantizer. Deterministic for a fixed
    * (sample, seed); empty clusters keep their previous centroid. */
  private[graft] def lloydKMeans(points: Array[Array[Float]], k: Int,
      maxIter: Int, seed: Long): Array[Array[Float]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val n = points.length
    val dim = points(0).length
    val kk = math.min(k, n)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new java.util.Random(seed)
    // k-means++ seeding
    val cents = Array.ofDim[Array[Float]](kk)
    cents(0) = points(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0; var sum = 0.0
      while (i < n) {
        val d = l2(points(i), cents(c - 1))
        if (d < d2(i)) d2(i) = d
        sum += d2(i); i += 1
      }
      var target = rnd.nextDouble() * sum
      var j = 0
      while (j < n - 1 && target > d2(j)) { target -= d2(j); j += 1 }
      cents(c) = points(j).clone()
      c += 1
    }
    // Lloyd iterations
    val sums = Array.ofDim[Double](kk, dim)
    val counts = new Array[Long](kk)
    var iter = 0
    while (iter < maxIter) {
      java.util.Arrays.fill(counts, 0L)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var cj = 0
        while (cj < kk) {
          val d = l2(points(i), cents(cj))
          if (d < bestD) { bestD = d; best = cj }
          cj += 1
        }
        val s = sums(best)
        var di = 0
        while (di < dim) { s(di) += points(i)(di); di += 1 }
        counts(best) += 1
        i += 1
      }
      var cj = 0
      while (cj < kk) {
        if (counts(cj) > 0) {
          var di = 0
          while (di < dim) { cents(cj)(di) = (sums(cj)(di) / counts(cj)).toFloat; di += 1 }
        }
        cj += 1
      }
      iter += 1
    }
    cents
  }

  /** Deterministic md5-derived hyperplanes, reproducible in ANY engine
    * with an md5 function (the DuckDB oracle recomputes them exactly):
    * plane(j)(d) = hash60("plane_j_d") / 2^59 − 1.0 ∈ [−1, 1). Division
    * by a power of two is exact, so the value is bit-identical across
    * engines. Uniform (not Gaussian) components — fine for SRP: only the
    * direction's sign pattern matters. */
  def hashPlanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    import graft.functions.{TextFunctions => TF}
    Array.tabulate(numPlanes)(j => Array.tabulate(dim)(d =>
      TF.hash60Jvm(s"plane_${j}_${d}").toDouble / 576460752303423488.0 - 1.0))
  }

  /** SRP signature bits over [[hashPlanes]]: bit j = (v · plane_j) > 0,
    * the dot accumulated SEQUENTIALLY in double — the exact op order the
    * oracle's list_sum mirror reproduces, so signatures are bit-identical
    * across engines. */
  private[operators] def srpBits(planes: Array[Array[Double]], v: Array[Float]): Long = {
    var s = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val n = math.min(v.length, p.length)
      var dot = 0.0
      var d = 0
      while (d < n) { dot += v(d).toDouble * p(d); d += 1 }
      if (dot > 0) s |= 1L << j
      j += 1
    }
    s
  }

  /** Banded SRP near-duplicate mining — the scale path for
    * embedding-cosine dedup (the exact pattern of
    * [[Dedup.minhashLshCandidates]]): every row gets a `numPlanes`-bit
    * signed-random-projection signature, the signature splits into
    * `bands` keys, rows colliding on ≥ 1 band key become candidate
    * pairs, and candidates are verified by EXACT cosine ≥ `minCosine`
    * (same arithmetic as [[Dedup.cosineNearDupPairs]]). Pair space is
    * band-bucket collisions — never all-pairs. Signatures use
    * [[hashPlanes]], so the whole pipeline (planes → signatures → bands
    * → verified pairs) is mirrorable by a SQL oracle.
    *
    * Output: (id_a, id_b, cos), id_a < id_b, distinct.
    * Recall is probabilistic in the band parameters (a pair at cos c
    * matches one band of b bits with (1 − θ(c)/π)^b); DedupSpec floors
    * it at ≥ 0.9 for near-dup-grade pairs.
    *
    * `withinCol` (optional) adds a partition key to every band key:
    * rows collide only when they agree on that column too — the miner
    * for partition-scoped dedup (e.g. [[Dedup.semanticDedup]]'s
    * in-cluster pair stage), where cross-partition pairs are excluded
    * by definition and keying them out of the join is cheaper than
    * mining then filtering. */
  def lshCosineCandidates(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, numPlanes: Int = 16, bands: Int = 4,
      withinCol: Option[String] = None): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    require(numPlanes <= 60, "signature must fit a long")
    // signatures via the native srp_bits expression (sequential double
    // dot per plane — the exact op order the oracle's list_sum mirror
    // reproduces): stays in whole-stage codegen, no whole-row typed-map
    // deserialization, no driver-side dim-probe job, no plane broadcast
    // (the executor derives the deterministic plane table per JVM)
    val banded = bandedSig(df, idCol, vecCol, numPlanes, bands, withinCol)
    val joinCond = bandJoinCond(withinCol)
    // verify INLINE in the band join: colliding pairs stream through the
    // cosine filter inside the join stage, and only VERIFIED pairs are
    // shuffled (for the band-multiplicity distinct). The previous shape
    // — distinct the raw candidate pair space, then two id-keyed joins
    // to fetch vectors — shuffled the unverified pair set three times,
    // which is degenerate whenever band values under-discriminate
    // (measured: 43 GB of shuffle for 2M in-cluster rows, BASELINE.md
    // semantic-dedup probe).
    banded.as("a").join(banded.as("b"), joinCond)
      .withColumn("cos",
        VF.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= minCosine)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
      .distinct()
  }

  /** Banded SRP signature rows: (id[, wk], vec, nrm, band, band_val) —
    * one row per (input row × band). Shared by the pair miner and the
    * existential drop miner. */
  private def bandedSig(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, bands: Int, withinCol: Option[String]): DataFrame = {
    val rows = numPlanes / bands
    val mask = (1L << rows) - 1
    val keyCols = col(idCol).cast("long").as("id") +:
      withinCol.map(c => col(c).as("wk")).toSeq
    df.select(keyCols ++ Seq(col(vecCol).as("vec")): _*)
      .withColumn("nrm", VF.norm2(col("vec")))
      .withColumn("sig", VF.srpBits(col("vec"), numPlanes))
      .select(col("*"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_val", expr(s"shiftright(sig, band * $rows) & $mask"))
  }

  private def bandJoinCond(withinCol: Option[String]) =
    col("a.band") === col("b.band") &&
      col("a.band_val") === col("b.band_val") && col("a.id") < col("b.id") &&
      withinCol.map(_ => col("a.wk") === col("b.wk")).getOrElse(lit(true))

  /** Existential form of [[lshCosineCandidates]] for drop-rule consumers
    * ([[Dedup.semanticDedup]]): the ids that have ANY lower-id
    * band-colliding neighbor (same `withinCol` partition) with exact
    * cosine ≥ `minCosine`. LEFT SEMI join with the verify folded into
    * the join condition — each banded probe row early-exits at its first
    * qualifying match, and nothing pair-shaped is ever materialized or
    * shuffled: the output is dropped ids only. This matters precisely in
    * the regime semantic dedup creates (duplicates are DENSE inside
    * band buckets, so first-match exits fire constantly and the pair
    * miner's candidate space goes quadratic — BASELINE.md probe). */
  def lshCosineDropIds(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, numPlanes: Int = 16, bands: Int = 4,
      withinCol: Option[String] = None): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    require(numPlanes <= 60, "signature must fit a long")
    val banded = bandedSig(df, idCol, vecCol, numPlanes, bands, withinCol)
    val cond = bandJoinCond(withinCol) &&
      VF.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")) >= minCosine
    // left = the probe side (b: the row that gets dropped); ≤ `bands`
    // surviving rows per dropped id → the distinct is over dropped ids
    banded.as("b").join(banded.as("a"), cond, "left_semi")
      .select(col("id"))
      .distinct()
  }

  /** LSH-bucketed approximate cosine top-k: (qid, rank, nid).
    * Candidates: rows whose signature matches the query's, or differs in
    * exactly one of the probed bits (multi-probe over all 1-bit flips);
    * exact cosine re-rank. Signatures use [[hashPlanes]] + [[srpBits]],
    * so the WHOLE pipeline — planes, signatures, probe set, candidate
    * join, re-rank order — is deterministic and reproducible by the
    * DuckDB oracle (sim_lsh_topk is hash-checked, not rows-only). */
  def lshCosineTopK(base: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 12): DataFrame = {
    require(numPlanes <= 60, "signature must fit a long")
    // native srp_bits on both sides: codegen signatures, no typed-map
    // whole-row deserialization over the base, no dim-probe job
    val b = base.select(col("id").cast("long").as("id"), col("vec"),
      VF.srpBits(col("vec"), numPlanes).as("sig"))
    val probes = lit(0L) +: (0 until numPlanes).map(j => lit(1L << j))
    val q = broadcast(
      queries.select(col("qid").cast("long").as("qid"), col("qvec"),
        VF.srpBits(col("qvec"), numPlanes).as("qsig"))
        .withColumn("probe", explode(array(probes: _*)))
        .withColumn("bucket", expr("qsig ^ probe"))
        .select(col("qid"), col("qvec"), col("bucket")))
    q.join(b, col("bucket") === col("sig"))
      .filter(col("id") =!= col("qid"))
      .withColumn("negcos", -VF.cosineSim(col("qvec"), col("vec")))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("negcos"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))
  }
}
