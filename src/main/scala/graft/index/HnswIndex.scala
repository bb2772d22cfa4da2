package graft.index

import scala.collection.mutable

/** In-memory HNSW graph for squared-L2 ANN search.
  *
  * Implements the published HNSW algorithm (Malkov & Yashunin 2016,
  * arXiv:1603.09320): exponential level assignment, greedy descent
  * through upper layers, beam search (`ef`) at level 0, and the
  * diversity-pruning neighbor-selection heuristic. The reference uses
  * the same algorithm family (vendored hnswlib,
  * pyglass/glass/hnswlib/hnswalg.h:1087-1202 insert,
  * pyglass/glass/searcher.hpp:262-299 filtered walk) — this is a clean
  * re-implementation of the published algorithm, not a port.
  *
  * Search walks the graph on SQ8 codes (int8 squared-L2, lazily encoded
  * once per loaded graph — 4× less memory traffic per hop) and
  * re-ranks the beam's pool in fp32 before returning — the reference's
  * quantized-search + exact-refine architecture (searcher.hpp:576-578,
  * hybrid_graph.cpp:465-494). The build inserts on fp32 (graph quality
  * is decided at build time; the codes don't exist until the graph is
  * frozen).
  *
  * With an `allowed` predicate, [[search]] dispatches to the in-filter
  * walk: the frontier expands over ALL nodes (disallowed nodes still
  * route) but the result pool accepts only allowed ones; optional
  * `seeds` (in-predicate entry points) start the beam inside the
  * matching slice, and a visited-node budget bounds the walk when the
  * predicate matches little or nothing.
  *
  * Deterministic: single-threaded build, seeded level RNG, id-ordered
  * tie-breaks, exact fp32 final ranking.
  */
final class HnswIndex(
    val dim: Int,
    val m: Int = 16,
    val efConstruction: Int = 200,
    seed: Long = 42L) extends Serializable {

  private val maxM = m
  private val maxM0 = 2 * m
  private val pruneSlack = 8
  private val levelMult = 1.0 / math.log(m.toDouble)
  private val rng = new java.util.Random(seed)

  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val nodeLevel = mutable.ArrayBuffer.empty[Int]
  // Level-0 adjacency is one flat fixed-stride int matrix: node i's row
  // starts at i*adjStride, slot 0 = degree, slots 1.. = neighbor ids.
  // Degree never exceeds maxM0 + pruneSlack (appends past that prune
  // immediately back to maxM0), so rows never overflow. Flat beats
  // per-node lists on both fronts that dominate the build: zero
  // allocations on the 15/16 of nodes that never leave level 0, and the
  // beam's neighbor expansions read one contiguous row instead of
  // chasing buffer -> list -> elems per hop.
  private val adjStride = maxM0 + pruneSlack + 2
  private var adj0 = new Array[Int](adjStride * 1024)
  // upperLinks(node)(l-1) = neighbors at level l >= 1 (only ~1/m of
  // nodes have any); level-0-only nodes share one empty array.
  private val upperLinks = mutable.ArrayBuffer.empty[Array[IntList]]
  private var entry = -1
  private var topLevel = -1
  // global max |component|, tracked on insert/restore — the SQ8 α
  private var maxAbs = 0.0

  def size: Int = vecs.length

  /** The stored fp32 vector of a node (defensive copy not taken —
    * callers must not mutate). Calibration probes sample these as
    * in-distribution queries. */
  def vectorOf(node: Int): Array[Float] = vecs(node)

  @inline private def ensureAdjCapacity(id: Int): Unit = {
    val need = (id + 1) * adjStride
    if (adj0.length < need)
      adj0 = java.util.Arrays.copyOf(adj0, math.max(adj0.length * 2, need))
  }

  @inline private def writeAdj0(node: Int, nbrs: IntList): Unit = {
    val b = node * adjStride
    adj0(b) = nbrs.length
    System.arraycopy(nbrs.raw, 0, adj0, b + 1, nbrs.length)
  }

  // SQ8 codes for the quantized walk, encoded lazily once the graph is
  // queried (one O(N·dim) pass; invalidated by subsequent add()s).
  // Rebuilt rather than serialized: re-encoding on load costs less than
  // +dim bytes/node in every persisted index row, and keeps the on-disk
  // format unchanged. Flat layout (node i at offset i·dim): contiguous
  // for hardware prefetch, one pointer chase less per hop.
  // volatile: searches from concurrent threads (the serving path shares
  // one cached instance per stored graph) must see codeAlpha before the
  // codes array is published; a racing double-encode is benign (both
  // threads produce identical bytes).
  @transient @volatile private var codes: Array[Byte] = _
  @transient private var codeAlpha = 1.0

  private def ensureCodes(): Unit = {
    val n = vecs.length
    if (codes == null || codes.length != n * dim) {
      require(n.toLong * dim < Int.MaxValue,
        s"sub-index too large for a flat code matrix ($n x $dim) - raise the bucket count")
      val a = if (maxAbs > 0) maxAbs else 1.0
      val cs = new Array[Byte](n * dim)
      var i = 0
      while (i < n) {
        val v = vecs(i)
        val off = i * dim
        var d = 0
        while (d < dim) {
          cs(off + d) = org.apache.spark.sql.graft.Sq8Encode.encodeOne(v(d), a)
          d += 1
        }
        i += 1
      }
      codeAlpha = a
      codes = cs
    }
  }

  private def encodeSq8(v: Array[Float], alpha: Double): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var d = 0
    while (d < v.length) {
      out(d) = org.apache.spark.sql.graft.Sq8Encode.encodeOne(v(d), alpha)
      d += 1
    }
    out
  }

  // SIMD squared-L2 via the Panama Vector API when the incubator module
  // is enabled, 4-lane-unrolled scalar otherwise (graft.simd
  // VectorKernels.Holder picks at class-load). Float accumulation is
  // fine here — the index is the approximate path (exact re-ranking
  // uses the Catalyst expressions).
  @transient private lazy val kernel = graft.simd.VectorKernels.Holder.KERNEL

  @inline private def dist(a: Array[Float], b: Array[Float]): Double =
    kernel.l2sq(a, b)

  @inline private def distTo(q: Array[Float], node: Int): Double = dist(q, vecs(node))

  /** L2² to a stored node in the engine-canonical arithmetic: a
    * SEQUENTIAL double accumulation over the fp32 components — identical
    * to the L2SquaredDistance expression and the oracles' list_sum
    * mirror, independent of the SIMD kernel's lane order. The serving
    * path re-distances its top-k through this so routed and unrouted
    * plans emit identical bytes even on near-ties. */
  def exactDistTo(q: Array[Float], node: Int): Double = {
    val v = vecs(node)
    val n = math.min(q.length, v.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = v(i).toDouble - q(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  // ---- quantized BUILD path ------------------------------------------
  // The reference builds its graphs on quantized codes too (pyglass
  // builds through the quantizer's computer). After `FreezeAt` inserts
  // the build freezes an alpha (max |x| so far, 1.25x headroom for later
  // values — encode clamps), back-fills a flat code matrix, and every
  // later insert runs its beam/diversity arithmetic on int8 codes. The
  // first FreezeAt inserts build fp32 (no alpha known yet). Search-time
  // codes (`ensureCodes`) are encoded independently with the final
  // alpha; returned distances are always exact fp32 via the re-rank.
  private val FreezeAt = 1024
  @transient private var bAlpha = 0.0
  @transient private var bCodes: Array[Byte] = _

  private def encodeInto(i: Int): Unit = {
    val need = (i + 1) * dim
    if (bCodes.length < need)
      bCodes = java.util.Arrays.copyOf(bCodes, math.max(bCodes.length * 2, need))
    val v = vecs(i)
    val off = i * dim
    var d = 0
    while (d < dim) {
      bCodes(off + d) = org.apache.spark.sql.graft.Sq8Encode.encodeOne(v(d), bAlpha)
      d += 1
    }
  }

  private def freezeBuildCodes(): Unit = {
    bAlpha = (if (maxAbs > 0) maxAbs else 1.0) * 1.25
    bCodes = new Array[Byte](math.max(vecs.length * dim * 2, 1 << 14))
    var i = 0
    while (i < vecs.length) { encodeInto(i); i += 1 }
  }

  /** Pre-train the build quantizer on the full data range (batch builds
    * materialize their rows before inserting, so callers can pass the
    * true max |component| up front — the reference trains its quantizer
    * on the whole dataset before building). Inserts then run quantized
    * from the first node with full code resolution. Call before add(). */
  def preTrain(alpha: Double): Unit = {
    require(vecs.isEmpty, "preTrain must precede inserts")
    require(alpha > 0, "alpha must be positive")
    bAlpha = alpha
    bCodes = new Array[Byte](1 << 14)
  }

  /** Build-metric codes of one node (test hook for the quantized build). */
  private[index] def buildCodeRow(i: Int): Array[Byte] =
    if (bAlpha == 0.0) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(bCodes, i * dim, (i + 1) * dim)

  /** Node-to-node distance in the build's active metric. */
  @inline private def nodeDist(a: Int, b: Int): Double =
    if (bAlpha != 0.0) kernel.l2sqI8Both(bCodes, a * dim, b * dim, dim).toDouble
    else dist(vecs(a), vecs(b))

  /** Inserted-vector-to-node distance in the build's active metric
    * (`qc` = the inserted vector's widened codes, null before freeze). */
  @inline private def buildDistTo(q: Array[Float], qc: Array[Short], node: Int): Double =
    if (qc != null) kernel.l2sqI8Pre(qc, bCodes, node * dim, dim).toDouble
    else distTo(q, node)

  /** Greedy single-entry descent at one level >= 1 (build metric). */
  private def greedyStep(q: Array[Float], qc: Array[Short], start: Int, level: Int): Int = {
    var cur = start
    var curD = buildDistTo(q, qc, cur)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = upperLinks(cur)(level - 1)
      var i = 0
      while (i < nbrs.length) {
        val c = nbrs(i)
        val d = buildDistTo(q, qc, c)
        if (d < curD) { cur = c; curD = d; improved = true }
        i += 1
      }
    }
    cur
  }

  // generation-stamped visited set — amortizes clearing across searches,
  // the reference's lazy-clearing bitset (pyglass/glass/neighbor.hpp:41-102).
  // Thread-confined: the serving path shares ONE cached instance per
  // stored graph across concurrent search tasks, so walk scratch lives in
  // a ThreadLocal (the reference pools per-search visited sets the same
  // way). The build path is single-threaded and reuses its thread's slot.
  // WalkScratch lives in the companion object (no $outer): an inner class
  // here would make every thread's ThreadLocal value strongly reference
  // this index, which references the ThreadLocal key — a value-to-key
  // cycle that keeps ThreadLocalMap entries unexpungeable and pins every
  // index a long-lived thread ever touched (cache-evicted graphs would
  // never be freed). With the value outer-free, an unreachable index lets
  // its key be weakly collected and stale entries expunge normally.
  @transient private var walkTL: ThreadLocal[HnswIndex.WalkScratch] = _

  // a torn init race just makes a thread briefly use a private
  // ThreadLocal instance — still thread-confined, still correct
  private def walkScratch(): HnswIndex.WalkScratch = {
    var tl = walkTL
    if (tl == null) {
      tl = ThreadLocal.withInitial(HnswIndex.newWalkScratch)
      walkTL = tl
    }
    val ws = tl.get()
    if (ws.mark == null || ws.mark.length < vecs.length) {
      // 1.25× headroom for build-time growth (serving instances are
      // frozen, so this is near-exact there). Footprint note: the mark
      // array is 4·n bytes PER SEARCHING THREAD per instance and is not
      // counted by the serving cache's byte budget — at 32 threads on a
      // 300k-node graph that is ~37 MB of scratch per cached instance,
      // an order below the graph itself (approxRetainedBytes) but worth
      // knowing when sizing graft.hnsw.cacheBytes.
      ws.mark = new Array[Int](
        math.max(vecs.length + (vecs.length >> 2), 1024))
      ws.gen = 0
    }
    // generation wrap: a frozen serving instance never regrows the mark
    // array, so after 2^31 searches on one (thread, index) the stamp
    // would wrap into values still present from old walks and silently
    // treat unvisited nodes as visited — re-zero and restart instead
    if (ws.gen == Int.MaxValue) {
      java.util.Arrays.fill(ws.mark, 0)
      ws.gen = 0
    }
    ws.gen += 1
    ws
  }

  // build-path scratch heaps (single-threaded insert loop): searchLayer
  // runs once per level per insert — reusing the two heaps removes the
  // dominant allocation churn of the build (the reference's pools are
  // likewise reused across searches, pyglass/glass/neighbor.hpp:125-303)
  @transient private var scratchCand: MinDistHeap = _
  @transient private var scratchRes: BoundedMaxHeap = _
  @transient private var scratchPacked: Array[Long] = _
  @transient private var scratchPrune: Array[Long] = _
  @transient private var scratchQc: Array[Short] = _

  /** Beam search at one level; returns the ≤ ef best (dist, id) pairs.
    * NOTE the returned heap is scratch when ef == efConstruction —
    * consume it before the next searchLayer call (single-threaded). */
  private def searchLayer(q: Array[Float], qc: Array[Short], start: Int,
      ef: Int, level: Int): BoundedMaxHeap = {
    val ws = walkScratch()
    val gen = ws.gen
    val seen = ws.mark
    val reuse = ef == efConstruction
    if (reuse && scratchRes == null) {
      scratchCand = new MinDistHeap(ef + 1)
      scratchRes = new BoundedMaxHeap(ef)
    }
    val cand = if (reuse) { scratchCand.clear(); scratchCand } else new MinDistHeap(ef + 1)
    val res = if (reuse) { scratchRes.clear(); scratchRes } else new BoundedMaxHeap(ef)
    val d0 = buildDistTo(q, qc, start)
    cand.push(d0, start); res.offer(d0, start); seen(start) = gen
    while (cand.nonEmpty) {
      val cd = cand.minDist
      val c = cand.minId
      if (cd > res.worstDist && res.isFull) {
        cand.clear()
      } else {
        cand.pop()
        var arr: Array[Int] = null
        var off = 0
        var cnt = 0
        if (level == 0) {
          val b = c * adjStride
          arr = adj0; off = b + 1; cnt = adj0(b)
        } else {
          val nl = upperLinks(c)(level - 1)
          arr = nl.raw; off = 0; cnt = nl.length
        }
        var i = 0
        while (i < cnt) {
          val nb = arr(off + i)
          if (seen(nb) != gen) {
            seen(nb) = gen
            val d = buildDistTo(q, qc, nb)
            if (!res.isFull || d < res.worstDist) {
              cand.push(d, nb)
              res.offer(d, nb)
            }
          }
          i += 1
        }
      }
    }
    res
  }

  /** Diversity heuristic (Malkov alg. 4): keep candidate c only if it is
    * closer to q than to every already-kept neighbor. Candidates arrive
    * packed as (floatBits(dist) << 32 | id) longs — a plain long sort is
    * (dist, id) order with zero boxing (dists are non-negative).
    * The diversity loop only considers the closest `4·count` candidates
    * (the tail of a 200-wide beam almost never survives pruning but
    * would cost O(tail · kept) distance calls per insert). */
  private def selectNeighbors(packed: Array[Long], len: Int, count: Int): IntList = {
    java.util.Arrays.sort(packed, 0, len)
    val window = math.min(len, count * 4)
    val kept = new IntList(count)
    var i = 0
    while (i < window && kept.length < count) {
      val dq = java.lang.Float.intBitsToFloat((packed(i) >>> 32).toInt).toDouble
      val c = (packed(i) & 0xffffffffL).toInt
      var ok = true
      var j = 0
      while (ok && j < kept.length) {
        // same metric as the candidate dists (codes after the freeze)
        if (nodeDist(c, kept(j)) < dq) ok = false
        j += 1
      }
      if (ok) kept += c
      i += 1
    }
    // backfill with closest pruned if underfull
    if (kept.length < count) {
      i = 0
      while (i < len && kept.length < count) {
        val c = (packed(i) & 0xffffffffL).toInt
        if (!kept.contains(c)) kept += c
        i += 1
      }
    }
    kept
  }

  @inline private def pack(d: Double, id: Int): Long =
    (java.lang.Float.floatToIntBits(d.toFloat).toLong << 32) | (id.toLong & 0xffffffffL)

  @inline private def trackAlpha(vec: Array[Float]): Unit = {
    var d = 0
    while (d < vec.length) {
      val a = math.abs(vec(d).toDouble)
      if (a > maxAbs) maxAbs = a
      d += 1
    }
  }

  def add(vec: Array[Float]): Int = {
    val id = vecs.length
    val level = math.min((-math.log(rng.nextDouble()) * levelMult).toInt, 32)
    vecs += vec
    trackAlpha(vec)
    nodeLevel += level
    ensureAdjCapacity(id)
    adj0(id * adjStride) = 0
    upperLinks +=
      (if (level == 0) HnswIndex.NoUpper
       else Array.fill(level)(new IntList(maxM + 1)))
    if (entry < 0) {
      entry = id; topLevel = level
      // preTrain-mode builds (bAlpha already fixed) must encode the entry
      // node too: every later insert measures nodeDist against node 0, and
      // with an exact-max alpha no re-freeze would ever re-encode it.
      if (bAlpha != 0.0) encodeInto(id)
      return id
    }
    // freeze the quantized build once enough data fixes an alpha; from
    // then on every insert's beam/diversity runs on int8 codes. If the
    // data's range outgrows the frozen alpha (clamping would degrade
    // the graph), re-freeze with the new range and re-encode — the
    // 1.25x headroom makes re-freezes O(log(range growth)) amortized.
    if (bAlpha == 0.0 && vecs.length >= FreezeAt) freezeBuildCodes()
    else if (bAlpha != 0.0) {
      if (maxAbs > bAlpha) freezeBuildCodes()
      else encodeInto(id)
    }
    val qc: Array[Short] =
      if (bAlpha == 0.0) null
      else {
        if (scratchQc == null) scratchQc = new Array[Short](dim)
        val out = scratchQc
        val off = id * dim
        var d = 0
        while (d < dim) { out(d) = bCodes(off + d).toShort; d += 1 }
        out
      }
    var cur = entry
    // descend levels above the node's level greedily
    var l = topLevel
    while (l > level) {
      cur = greedyStep(vec, qc, cur, l)
      l -= 1
    }
    // insert at each level from min(topLevel, level) down to 0
    l = math.min(topLevel, level)
    while (l >= 0) {
      val (found, foundLen) = searchLayer(vec, qc, cur, efConstruction, l)
        .toPackedInto(scratchPacked)
      scratchPacked = found
      val cap = if (l == 0) maxM0 else maxM
      // selectNeighbors sorts `found` in place — afterwards found(0) is
      // the closest candidate, reused as the next level's entry point
      val nbrs = selectNeighbors(found, foundLen, cap)
      if (l == 0) writeAdj0(id, nbrs) else upperLinks(id)(l - 1) = nbrs
      // bidirectional links with pruning — lists may overshoot `cap` by
      // a small slack before being pruned back, amortizing the O(deg²)
      // re-selection over several inserts (degree stays ≤ cap + slack)
      var i = 0
      while (i < nbrs.length) {
        val nb = nbrs(i)
        if (l == 0) {
          val b = nb * adjStride
          val len = adj0(b) + 1
          adj0(b + len) = id
          adj0(b) = len
          if (len > cap + pruneSlack) {
            if (scratchPrune == null || scratchPrune.length < len)
              scratchPrune = new Array[Long](math.max(len * 2, 64))
            val withD = scratchPrune
            var t = 0
            while (t < len) {
              val c = adj0(b + 1 + t)
              withD(t) = pack(nodeDist(nb, c), c); t += 1
            }
            writeAdj0(nb, selectNeighbors(withD, len, cap))
          }
        } else {
          val nbLinks = upperLinks(nb)(l - 1)
          nbLinks += id
          if (nbLinks.length > cap + pruneSlack) {
            if (scratchPrune == null || scratchPrune.length < nbLinks.length)
              scratchPrune = new Array[Long](math.max(nbLinks.length * 2, 64))
            val withD = scratchPrune
            var t = 0
            while (t < nbLinks.length) {
              withD(t) = pack(nodeDist(nb, nbLinks(t)), nbLinks(t)); t += 1
            }
            upperLinks(nb)(l - 1) = selectNeighbors(withD, nbLinks.length, cap)
          }
        }
        i += 1
      }
      if (foundLen > 0) cur = (found(0) & 0xffffffffL).toInt
      l -= 1
    }
    if (level > topLevel) { topLevel = level; entry = id }
    id
  }

  /** Compact binary serialization (dim, params, entry, levels, vectors,
    * adjacency) — the persisted form of the batch index-build job. */
  def toBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    // the buffer between DataOutputStream and the deflater is load-bearing:
    // without it every writeInt is 4 single-byte native deflate calls —
    // ~500M JNI crossings to serialize a 300k-row sub-index (minutes);
    // buffered, the deflater sees 64 KB chunks (seconds). The compressed
    // byte format is unchanged (deflate output depends only on the input
    // byte sequence, not on write chunking).
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.util.zip.DeflaterOutputStream(bos), 1 << 16))
    out.writeInt(dim); out.writeInt(m); out.writeInt(efConstruction)
    out.writeInt(size); out.writeInt(entry); out.writeInt(topLevel)
    var i = 0
    while (i < size) {
      out.writeInt(nodeLevel(i))
      val v = vecs(i)
      var d = 0
      while (d < v.length) { out.writeFloat(v(d)); d += 1 }
      val b = i * adjStride
      val deg = adj0(b)
      out.writeInt(deg)
      var j = 0
      while (j < deg) { out.writeInt(adj0(b + 1 + j)); j += 1 }
      val ls = upperLinks(i)
      var l = 0
      while (l < ls.length) {
        out.writeInt(ls(l).length)
        var t = 0
        while (t < ls(l).length) { out.writeInt(ls(l)(t)); t += 1 }
        l += 1
      }
      i += 1
    }
    out.close()
    bos.toByteArray
  }

  private[index] def restore(n: Int, e: Int, tl: Int,
      in: java.io.DataInputStream): Unit = {
    entry = e; topLevel = tl
    var i = 0
    while (i < n) {
      val lvl = in.readInt()
      nodeLevel += lvl
      val v = new Array[Float](dim)
      var d = 0
      while (d < dim) { v(d) = in.readFloat(); d += 1 }
      vecs += v
      trackAlpha(v)
      ensureAdjCapacity(i)
      val b = i * adjStride
      val deg = in.readInt()
      require(deg < adjStride,
        s"level-0 degree $deg exceeds the adjacency stride (corrupt bytes?)")
      adj0(b) = deg
      var j = 0
      while (j < deg) { adj0(b + 1 + j) = in.readInt(); j += 1 }
      val ls = if (lvl == 0) HnswIndex.NoUpper else Array.fill(lvl)(new IntList(4))
      var l = 0
      while (l < lvl) {
        val cnt = in.readInt()
        var t = 0
        while (t < cnt) { ls(l) += in.readInt(); t += 1 }
        l += 1
      }
      upperLinks += ls
      i += 1
    }
  }

  // ---- quantized search path (SQ8 walk + fp32 refine) -----------------

  @inline private def qdistTo(qc: Array[Short], node: Int): Double =
    kernel.l2sqI8Pre(qc, codes, node * dim, dim).toDouble

  /** Greedy single-entry descent on codes (upper layers, level >= 1). */
  private def greedyStepCoded(qc: Array[Short], start: Int, level: Int): Int = {
    var cur = start
    var curD = qdistTo(qc, cur)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = upperLinks(cur)(level - 1)
      var i = 0
      while (i < nbrs.length) {
        val c = nbrs(i)
        val d = qdistTo(qc, c)
        if (d < curD) { cur = c; curD = d; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Level-0 beam search on codes. */
  private def searchLayerCoded(qc: Array[Short], start: Int, ef: Int): BoundedMaxHeap = {
    val ws = walkScratch()
    val gen = ws.gen
    val seen = ws.mark
    val cand = new MinDistHeap(ef + 1)
    val res = new BoundedMaxHeap(ef)
    val d0 = qdistTo(qc, start)
    cand.push(d0, start); res.offer(d0, start); seen(start) = gen
    while (cand.nonEmpty) {
      val cd = cand.minDist
      val c = cand.minId
      if (cd > res.worstDist && res.isFull) {
        cand.clear()
      } else {
        cand.pop()
        val b = c * adjStride
        val cnt = adj0(b)
        var i = 0
        while (i < cnt) {
          val nb = adj0(b + 1 + i)
          if (seen(nb) != gen) {
            seen(nb) = gen
            val d = qdistTo(qc, nb)
            if (!res.isFull || d < res.worstDist) {
              cand.push(d, nb)
              res.offer(d, nb)
            }
          }
          i += 1
        }
      }
    }
    res
  }

  // per-node consecutive-disallowed-hop depth for the current walk lives
  // in WalkScratch.hops (valid only for nodes whose mark carries the
  // current gen) — thread-confined like the visited set

  /** In-filter beam search at level 0 on codes: the frontier expands
    * over ALL nodes (disallowed nodes still route), the result pool
    * accepts only `allowed` nodes — the reference's in-filter walk shape
    * (searcher.hpp:415-491, SearchRangeFilterSubTime). `seeds` start the
    * beam inside the predicate slice (searcher.hpp:301-317: without
    * them a narrow slice far from the global entry may never be
    * reached); `maxVisits` bounds the walk when the predicate matches
    * little (an un-fillable result pool would otherwise never trigger
    * the frontier-pruning early exit and the walk would visit the whole
    * connected component). With seeds present, disallowed frontier
    * chains are additionally cut after 2 consecutive disallowed hops —
    * the reference's rf_thr expansion budget (searcher.hpp:415-491):
    * routing THROUGH a disallowed region is cheap for short gaps, and
    * distant in-range islands are already reachable via the seeds. */
  private def searchLayerFilteredCoded(qc: Array[Short], start: Int, ef: Int,
      allowed: Int => Boolean, seeds: Array[Int], maxVisits: Int): BoundedMaxHeap = {
    val ws = walkScratch()
    val gen = ws.gen
    val seen = ws.mark
    val useHops = seeds != null && seeds.length > 0
    if (useHops && (ws.hops == null || ws.hops.length < vecs.length))
      ws.hops = new Array[Byte](math.max(vecs.length + (vecs.length >> 2), 1024))
    val hops = ws.hops
    val maxHops: Byte = 2
    val cand = new MinDistHeap(ef + 1)
    val res = new BoundedMaxHeap(ef)
    val d0 = qdistTo(qc, start)
    cand.push(d0, start)
    if (allowed(start)) { res.offer(d0, start); if (useHops) hops(start) = 0 }
    else if (useHops) hops(start) = 1
    seen(start) = gen
    var visits = 1
    if (seeds != null) {
      var s = 0
      while (s < seeds.length) {
        val sd = seeds(s)
        if (seen(sd) != gen) {
          seen(sd) = gen
          val d = qdistTo(qc, sd)
          cand.push(d, sd)
          if (allowed(sd)) res.offer(d, sd)
          if (useHops) hops(sd) = 0
          visits += 1
        }
        s += 1
      }
    }
    while (cand.nonEmpty && visits < maxVisits) {
      val cd = cand.minDist
      val c = cand.minId
      if (cd > res.worstDist && res.isFull) {
        cand.clear()
      } else {
        cand.pop()
        val cHops: Byte = if (useHops) hops(c) else 0
        val b = c * adjStride
        val cnt = adj0(b)
        var i = 0
        while (i < cnt) {
          val nb = adj0(b + 1 + i)
          if (seen(nb) != gen) {
            seen(nb) = gen
            // edge-ts prefilter (the reference checks the edge's inline
            // timestamp BEFORE the distance, searcher.hpp:343-344): a
            // chain-cut disallowed neighbor is dropped either way, and
            // checking the predicate first both skips its distance AND
            // leaves the bounded visit budget for allowed nodes. That
            // budget reallocation is the measured win (edge-ts A/B at
            // d1af3fe, 300k rows, ef=150): recall@10 at coverage
            // 0.02/0.10/0.30 rises 0.52→0.84 / 0.69→0.83 / 0.74→0.78 at
            // equal budget, for 0.5–0.9× the q/s — strictly better
            // recall-per-visit. Chains that have wandered maxHops nodes
            // deep into the disallowed region are cut here (they can
            // still be reached again through a shorter chain only if
            // unseen — the reference accepts the same first-touch
            // approximation).
            val ok = allowed(nb)
            val nbHops: Byte = if (ok) 0 else (cHops + 1).toByte
            if (ok || nbHops <= maxHops) {
              val d = qdistTo(qc, nb)
              visits += 1
              if (!res.isFull || d < res.worstDist) {
                cand.push(d, nb)
                if (useHops) hops(nb) = nbHops
                if (ok) res.offer(d, nb)
              }
            }
          }
          i += 1
        }
      }
    }
    ws.lastVisits = visits
    res
  }

  /** Coded-distance evaluations of THIS THREAD's most recent filtered
    * walk (thread-confined like the visited set): the deterministic
    * work counter the brute-coverage crossover tuner compares against
    * a slice scan's element count — both sides evaluate the same
    * [[qdistTo]] unit, so the counts are directly comparable. */
  private[graft] def lastFilteredWalkVisits: Int = {
    val tl = walkTL
    if (tl == null) 0 else tl.get().lastVisits
  }

  /** Top-k (internal id, dist) ascending (dist, id); `dist` is the EXACT
    * fp32 squared L2 (the walk runs on SQ8 codes, the returned pool is
    * re-ranked exactly — reference refine, hybrid_graph.cpp:465-494).
    * With `allowed`, runs the in-filter walk with optional in-predicate
    * entry `seeds` and a visited budget (default 32·ef + 1024). */
  def search(q: Array[Float], k: Int, ef: Int,
      allowed: Int => Boolean = null,
      seeds: Array[Int] = null,
      maxVisits: Int = 0): Array[(Int, Double)] = {
    if (entry < 0) return Array.empty
    ensureCodes()
    // query codes pre-widened to short: halves the hot loop's lane
    // conversions (the base side stays packed bytes)
    val qb = encodeSq8(q, codeAlpha)
    val qc = new Array[Short](qb.length)
    var qi = 0
    while (qi < qb.length) { qc(qi) = qb(qi).toShort; qi += 1 }
    var cur = entry
    var l = topLevel
    while (l > 0) {
      cur = greedyStepCoded(qc, cur, l)
      l -= 1
    }
    val effEf = math.max(ef, k)
    val res =
      if (allowed == null) searchLayerCoded(qc, cur, effEf)
      else {
        val budget = if (maxVisits > 0) maxVisits else 32 * effEf + 1024
        searchLayerFilteredCoded(qc, cur, effEf, allowed, seeds, budget)
      }
    rerank(q, res, k)
  }

  /** fp32 re-rank of the quantized beam's pool: exact distance per
    * surviving candidate, (dist, id) ascending, top-k. */
  private def rerank(q: Array[Float], res: BoundedMaxHeap, k: Int): Array[(Int, Double)] = {
    val pairs = res.toPairs
    // same bounded (dist, id) selection as exactOver — the pool is only
    // ef elements, but this runs once per walk on every query
    val heap = new BoundedTieHeap(math.min(k, math.max(pairs.length, 1)))
    var i = 0
    while (i < pairs.length) {
      val id = pairs(i)._2
      heap.offer(dist(q, vecs(id)), id)
      i += 1
    }
    heap.drainSortedPairs()
  }

  /** Exact top-k over an explicit node subset — the SMALL-slice scan
    * route (hybrid_graph.cpp:356-364): when a range predicate keeps only
    * a sliver of a sub-index, scanning it exactly beats any walk. */
  /** Rough resident footprint for the serving cache's byte budget:
    * fp32 vectors + SQ8 codes + level-0 adjacency (upper levels are
    * ~1/16 of level 0 — ignored). */
  private[index] def approxRetainedBytes: Long =
    vecs.length.toLong * dim * 5 + adj0.length.toLong * 4

  def exactOver(q: Array[Float], nodes: Array[Int], k: Int): Array[(Int, Double)] = {
    // bounded (dist, id)-lexicographic selection: O(n log k), no boxing.
    // Equivalent to sorting the whole slice by (dist, id) and taking k
    // (ids are unique, so the order is total) — the full-slice sortBy
    // this replaces was the type-2 hot spot at the 10M probe scale.
    val heap = new BoundedTieHeap(math.min(k, math.max(nodes.length, 1)))
    var i = 0
    while (i < nodes.length) {
      heap.offer(dist(q, vecs(nodes(i))), nodes(i))
      i += 1
    }
    heap.drainSortedPairs()
  }

  /** [[exactOver]] in the reference's quantized two-stage form
    * (bruteforce_subgraph on SQ8 codes, hybrid_graph.cpp:394-418, with
    * bf_refine_k=140, hybrid_graph.h:80): preselect `max(k+40, 140)`
    * candidates on int8 codes — 4× less memory traffic than fp32 on a
    * slice too big for cache — then re-rank the survivors with exact
    * fp32 distances. The candidate set can differ from [[exactOver]]'s
    * at the quantization margin, so hash-gated oracle paths keep the
    * fp32 scan; this is the serving-scale arm (`efBands`). Small slices
    * fall through to the exact scan (they fit cache; the quantized
    * detour would only add the re-rank pass). */
  def exactOverQ(q: Array[Float], nodes: Array[Int], k: Int): Array[(Int, Double)] = {
    if (entry < 0 || nodes.length <= 2048) return exactOver(q, nodes, k)
    ensureCodes()
    val qb = encodeSq8(q, codeAlpha)
    val qc = new Array[Short](qb.length)
    var qi = 0
    while (qi < qb.length) { qc(qi) = qb(qi).toShort; qi += 1 }
    val refineK = math.min(nodes.length, math.max(k + 40, 140))
    val pre = new BoundedTieHeap(refineK)
    var i = 0
    while (i < nodes.length) {
      pre.offer(qdistTo(qc, nodes(i)), nodes(i))
      i += 1
    }
    val cand = pre.drainSortedPairs()
    val heap = new BoundedTieHeap(math.min(k, math.max(cand.length, 1)))
    var j = 0
    while (j < cand.length) {
      val id = cand(j)._1
      heap.offer(dist(q, vecs(id)), id)
      j += 1
    }
    heap.drainSortedPairs()
  }
}

object HnswIndex {

  // generation-stamped visited-set scratch; top-level (outer-free) so a
  // ThreadLocal value never pins the index that allocated it — see the
  // leak note at HnswIndex.walkTL.
  private[index] final class WalkScratch {
    var mark: Array[Int] = _
    var gen = 0
    var hops: Array[Byte] = _
    // coded-distance evaluations of this thread's most recent filtered
    // walk — the deterministic WORK counter the brute-coverage
    // crossover tuner reads (one store at walk end, zero hot-path cost)
    var lastVisits: Int = 0
  }

  // shared supplier: a per-call lambda would capture nothing either, but
  // naming it makes the no-capture contract explicit and checkable
  private[index] val newWalkScratch: java.util.function.Supplier[WalkScratch] =
    () => new WalkScratch

  /** Shared empty upper-level slot for level-0-only nodes (~15/16 of
    * all nodes at m=16) — avoids one array allocation per insert. */
  private[index] val NoUpper = new Array[IntList](0)

  /** Max |component| over a vector batch — the [[HnswIndex.preTrain]]
    * input for batch builds (one pass, no allocation). */
  def maxAbsOf(vecs: Iterator[Array[Float]]): Double = {
    var ma = 0.0
    while (vecs.hasNext) {
      val v = vecs.next()
      var d = 0
      while (d < v.length) {
        val a = math.abs(v(d).toDouble)
        if (a > ma) ma = a
        d += 1
      }
    }
    ma
  }

  /** Build a pre-trained index over a materialized row batch. */
  def buildOn(dim: Int, m: Int, efConstruction: Int,
      vecs: Iterator[Array[Float]], alpha: Double): HnswIndex = {
    val idx = new HnswIndex(dim, m, efConstruction)
    if (alpha > 0) idx.preTrain(alpha)
    vecs.foreach(idx.add)
    idx
  }

  def fromBytes(bytes: Array[Byte]): HnswIndex = {
    // buffered for the same reason as toBytes: DataInputStream.readInt is
    // 4 single-byte reads, and unbuffered each one is a native inflate
    // call — restore of a 300k-row sub-index went from minutes to seconds
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(bytes)),
      1 << 16))
    val dim = in.readInt(); val m = in.readInt(); val efC = in.readInt()
    val n = in.readInt(); val entry = in.readInt(); val topLevel = in.readInt()
    val idx = new HnswIndex(dim, m, efC)
    idx.restore(n, entry, topLevel, in)
    in.close()
    idx
  }

  // --- executor-resident deserialized-index cache -------------------------
  // The serving path (AnnTopKExec / AnnIndexStore.search*) reads index
  // blobs from parquet and deserializes per QUERY; the reference keeps its
  // index resident across queries, and so should we. Cache is per-JVM
  // (per-executor on a cluster — each executor only caches the buckets it
  // reads, which is exactly the locality a bucketed scan gives it), keyed
  // by a content fingerprint of the blob (length + first/middle/last
  // samples), so a rebuilt store to the same path can never serve a stale
  // graph. LRU bounded by RETAINED BYTES, not entry count: a contest-scale
  // sub-index holds ~150 MB of vectors+codes+adjacency, and an executor
  // heap has room for a handful of those, not 64.

  // The HIT path must be lock-free: 32 executor threads hammer the cache
  // once per (list row × chunk), and an A/B at the 2M contest point showed
  // a synchronized-LRU variant LOSING to no-cache from lock contention
  // alone. ConcurrentHashMap get + a volatile access tick; eviction (rare:
  // only when an insert crosses the byte budget) takes a lock and scans
  // for the stalest ticks — O(entries), entries is at most a few hundred.
  // Default budget adapts to the executor heap (1/8th, clamped to
  // [64 MB, 1 GiB]): the cache is a SERVING-latency device — one big
  // graph resident beats a 2.2 s reload per SQL statement — not a batch
  // throughput device (an A/B at the 2M contest point measured chunked
  // batch search indifferent to it; ~8 MB list graphs deserialize
  // faster than the walks they serve), so it must never crowd a small
  // executor heap to chase wins that aren't there.
  private val MaxCachedBytes: Long = {
    val dflt = math.max(64L << 20,
      math.min(1L << 30, Runtime.getRuntime.maxMemory() / 8))
    java.lang.Long.getLong("graft.hnsw.cacheBytes", dflt)
  }
  private final class Entry(val idx: HnswIndex, val bytes: Long,
      val fullHash: Long) {
    @volatile var tick: Long = 0L
  }
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), Entry]
  private val clock = new java.util.concurrent.atomic.AtomicLong()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong()

  private def evictOver(): Unit = cache.synchronized {
    while (cachedBytes.get() > MaxCachedBytes && cache.size() > 1) {
      var worstK: (Long, Int) = null
      var worst = Long.MaxValue
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val t = en.getValue.tick
        if (t < worst) { worst = t; worstK = en.getKey }
      }
      if (worstK == null) return
      val removed = cache.remove(worstK)
      if (removed != null) cachedBytes.addAndGet(-removed.bytes)
    }
  }

  // 32 sampled 128-byte windows spread across the blob + length, mixed
  // FNV-1a-then-avalanched. Sampled (not full-array) because the HIT
  // path recomputes the key per call — 4 KB hashed per hit vs scanning
  // a 146 MB blob. The blob is DEFLATE output: any upstream difference
  // perturbs the compressed stream from that point on, so 32 windows
  // across the length + exact length make an accidental collision
  // (equal length, 4 KB of agreeing samples) vanishingly unlikely;
  // adversarial blobs are out of scope for a process-local cache. For
  // belt-and-braces deployments, -Dgraft.hnsw.verifyCacheKey=true
  // additionally checks a full-array hash (computed once per MISS,
  // stored in the Entry) on every hit, trading ~ms of hashing per hit
  // for a zero-false-hit guarantee.
  private def fingerprint(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(i: Int): Unit = { h ^= b(i); h *= 0x100000001b3L }
    val n = b.length
    val win = 128
    val windows = 32
    var w = 0
    while (w < windows) {
      val start = if (windows == 1) 0 else (n.toLong - win) * w / (windows - 1)
      var i = math.max(0, start.toInt)
      val end = math.min(n, i + win)
      while (i < end) { mix(i); i += 1 }
      w += 1
    }
    // avalanche (splitmix64 finalizer)
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  private val VerifyCacheKey: Boolean =
    java.lang.Boolean.getBoolean("graft.hnsw.verifyCacheKey")

  // full-pass FNV-1a + avalanche; only on the MISS path (and per-hit
  // when verifyCacheKey is on)
  private def fullHash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= b(i); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** [[fromBytes]] through the bounded per-JVM cache — use on serving
    * paths where the same stored graph answers many queries. A budget
    * of 0 (or negative) bypasses the cache entirely. */
  def fromBytesCached(bytes: Array[Byte]): HnswIndex = {
    if (MaxCachedBytes <= 0) return fromBytes(bytes)
    val key = (fingerprint(bytes), bytes.length)
    val hit = cache.get(key)
    if (hit != null && (!VerifyCacheKey || hit.fullHash == fullHash(bytes))) {
      hit.tick = clock.incrementAndGet()
      return hit.idx
    }
    if (hit != null) { // verified mismatch: evict the colliding entry
      if (cache.remove(key, hit)) cachedBytes.addAndGet(-hit.bytes)
    }
    val idx = fromBytes(bytes) // deserialize outside any lock
    val e = new Entry(idx, idx.approxRetainedBytes, fullHash(bytes))
    val race = cache.putIfAbsent(key, e)
    if (race != null) {
      race.tick = clock.incrementAndGet()
      race.idx
    } else {
      e.tick = clock.incrementAndGet()
      if (cachedBytes.addAndGet(e.bytes) > MaxCachedBytes) evictOver()
      idx
    }
  }

  /** Test hook: drop all cached deserialized graphs. */
  def clearCache(): Unit = cache.synchronized {
    cache.clear(); cachedBytes.set(0L)
  }
}
