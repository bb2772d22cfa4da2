package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("nearDupComponents: chains collapse to min-id reps, singletons keep their own") {
    // components: {1,2,3,4} via a chain (needs >1 propagation round),
    // {10,11}, and singletons {20}, {21}
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
    // driver union-find path (default) and distributed propagation path
    // (forced with a zero threshold) must agree
    val uf = Dedup.nearDupComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.nearDupComponents(nodes, "doc_id", pairs, driverPairsBelow = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == want && dist == want)
    Dedup.releaseCaches()
  }

  test("nearDupComponents: an under-estimating pairCountHint cannot unbound the driver path") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
    // hint says "1 pair" but there are 4 and the cap is 2: the bounded
    // take() probe detects the overflow and falls through to the
    // distributed loop instead of collecting past the cap
    val lied = Dedup.nearDupComponents(nodes, "doc_id", pairs,
      driverPairsBelow = 2, pairCountHint = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hint says "big": distributed directly, no probe
    val big = Dedup.nearDupComponents(nodes, "doc_id", pairs,
      driverPairsBelow = 2, pairCountHint = Some(1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // accurate hint within the cap: driver union-find
    val small = Dedup.nearDupComponents(nodes, "doc_id", pairs,
      pairCountHint = Some(4L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lied == want && big == want && small == want)
    Dedup.releaseCaches()
  }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog today"),           // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat today"),           // near dup of 0
    (3L, "completely different content about spark query engines here"),
    (4L, "here engines query spark about content different completely"), // same tokens, diff order
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exactGroups groups identical texts under min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 5)
    val dup = g.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 0L) // representative = min doc_id
  }

  test("jaccard pairs find exact and near dups with correct similarity") {
    val pairs = Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs((0L, 1L)) == 1.0)               // identical → jaccard 1
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.4 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.contains((3L, 4L)))            // same tokens, no shared 3-shingles
  }

  test("prefix-filtered jaccard pairs equal the full inverted-index join") {
    // fixture docs plus randomized ones, at two thresholds
    val rnd = new scala.util.Random(11)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rdocs = docs.unionByName(Seq.tabulate(40) { i =>
      (100L + i, Seq.fill(6 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text"))
    for (t <- Seq(0.2, 0.5)) {
      val classic = Dedup.jaccardShinglePairs(rdocs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val prefix = Dedup.jaccardPrefixPairs(rdocs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(prefix == classic, s"threshold $t: $prefix vs $classic")
    }
  }

  test("minhash LSH finds exact dups with est_sim 1") {
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cand((0L, 1L)) == 1.0)
  }

  test("band-sequential mining yields the identical pair set (bandGroups = 2, 4)") {
    def pairsWith(g: Int) =
      Dedup.minhashLshCandidates(docs, "doc_id", "text", bandGroups = g)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val oneShot = pairsWith(1)
    assert(pairsWith(2) == oneShot)
    assert(pairsWith(4) == oneShot)
    Dedup.releaseCaches(blocking = true)
  }

  test("a band pass's shuffle bytes are read from its executed plan, caches included") {
    // the pause between band passes is taken only when the finished
    // pass wrote enough shuffle to reclaim; a measure that misses the
    // pass's exchanges would skip it at every scale
    val keyed = docs.select(col("doc_id"), length(col("text")).as("len"))
    val own = keyed.repartition(3, col("len"))
    assert(Dedup.shuffleBytesWritten(own) == 0) // not run yet
    own.localCheckpoint(true)
    assert(Dedup.shuffleBytesWritten(own) > 0)
    // no exchange of its own: it scans a cache whose build shuffled
    val cached = keyed.repartition(3, col("doc_id")).persist()
    val scan = cached.filter(col("len") > 0)
    scan.localCheckpoint(true)
    assert(Dedup.shuffleBytesWritten(scan) > 0)
    cached.unpersist(blocking = true)
    // a pass that finds no pair: adaptive execution replaces the plan
    // above its empty stage, but the shuffles it ran still count
    val parts = keyed.repartition(3, col("doc_id"))
    val none = parts.as("a")
      .join(parts.as("b").hint("merge"),
        col("a.doc_id") === col("b.doc_id") && col("a.len") < col("b.len"))
      .select(col("a.len")).dropDuplicates()
    assert(none.localCheckpoint(true).isEmpty)
    assert(none.queryExecution.executedPlan.toString.contains("EmptyRelation"))
    assert(Dedup.shuffleBytesWritten(none) > 0)
  }

  test("simhash: identical docs share fingerprints; near dups are close") {
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(3L) == fp(4L)) // simhash is token-set based, order-invariant
    val hamming01 = java.lang.Long.bitCount(fp(0L) ^ fp(2L))
    val hammingFar = java.lang.Long.bitCount(fp(0L) ^ fp(3L))
    assert(hamming01 < hammingFar)
  }

  test("simhashNearPairs finds identical docs at hamming 0") {
    val pairs = Dedup.simhashNearPairs(docs, "doc_id", "text", 48, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) == 0L)
    assert(pairs((3L, 4L)) == 0L)
  }

  test("multi-block simhash banding returns the same pairs as single-block") {
    // the pigeonhole guarantee is exact for both schemes, so on any
    // corpus the (bits=60, blocks=6) wide-key bands must find exactly
    // the single-block (blocks=4) pair set at the same radius — the
    // schemes differ only in candidate-set size, never in the result
    val single = Dedup.simhashNearPairs(docs, "doc_id", "text", 60, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val multi = Dedup.simhashNearPairs(docs, "doc_id", "text", 60, 3, blocks = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    assert(multi == single, s"multi=$multi single=$single")
    assert(single.nonEmpty)
  }

  test("band-sequential simhash mining returns the one-shot pair set") {
    // the candidate set is a union over bands, independent of which
    // pass a band runs in — C(6,3) = 20 combos split 2/4/5 ways must
    // all reproduce the one-shot result exactly
    val oneShot = Dedup.simhashNearPairs(docs, "doc_id", "text", 60, 3, blocks = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    assert(oneShot.nonEmpty)
    for (g <- Seq(2, 4, 5)) {
      val grouped = Dedup.simhashNearPairs(docs, "doc_id", "text", 60, 3,
          blocks = 6, bandGroups = g)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
      assert(grouped == oneShot, s"g=$g grouped=$grouped oneShot=$oneShot")
    }
    Dedup.releaseCaches(blocking = true)
  }

  test("wide (120-bit) simhash banding equals brute-force block hamming") {
    import graft.functions.{TextFunctions => TF}
    // 14 groups of (base, 1-token-mutated) 60-token docs: at 120 bits a
    // 1-of-60 token change lands an expected hamming of ~2, so the
    // fixture produces pairs at 0 < h <= 3 as well as pairs beyond the
    // radius — brute force adjudicates both sides
    val wdocs = (0 until 14).flatMap { g =>
      val base = (0 until 60).map(t => s"tok${g}_$t")
      Seq((g * 2L, base.mkString(" ")),
        (g * 2L + 1, base.updated(7, s"mut$g").mkString(" ")))
    }.toDF("doc_id", "text")
    val fps = wdocs.select(col("doc_id"),
        TF.simhashBlocks(
          transform(array_distinct(TF.tokens(col("text"))), t => TF.hash60(t, 97)),
          120, 6).as("fpb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def ham(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    val ids = fps.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      h = ham(fps(i), fps(j)) if h <= 3
    } yield ((i, j), h)).toMap
    val got = Dedup.simhashNearPairs(wdocs, "doc_id", "text", bits = 120, maxHamming = 3, blocks = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want, s"got=$got want=$want")
    assert(want.exists { case (_, h) => h > 0 }, s"fixture too strict: $want")
    Dedup.releaseCaches()
  }

  test("leakageSafeSplit: clusters split atomically; singletons match the doc-keyed hash") {
    // pair graph: {1,2,3,4} chained, {10,11}; 20, 21 singletons
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.leakageSafeSplit(nodes, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 8)
    // every cluster lands in exactly one split — no dup pair straddles
    val perRep = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    assert(perRep.values.forall(_.length == 1), s"cluster straddles splits: $perRep")
    assert(perRep(1L).nonEmpty && out.count(_._2 == 1L) == 4)
    // a singleton's assignment equals the doc-keyed md5 split (rep = self)
    val expected20 = {
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex("split:20").take(8), 16) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    assert(out.find(_._1 == 20L).get._3 == expected20)
    // a doc-keyed hash split on the same corpus DOES straddle at least
    // one of these clusters for some member/rep hash draw — the channel
    // this operator closes. Verify the mechanism rather than luck:
    // member splits are keyed by REP, so member 4's split equals rep 1's.
    val byDoc = out.map(t => t._1 -> t._3).toMap
    assert(byDoc(4L) == byDoc(1L) && byDoc(11L) == byDoc(10L))
    Dedup.releaseCaches()
  }

  test("cosine near-dup pairs find identical vectors") {
    val vecs = Seq(
      (0L, Array(1f, 2f, 3f)),
      (1L, Array(1f, 2f, 3f)),
      (2L, Array(2f, 4f, 6f)),      // same direction
      (3L, Array(-1f, 5f, -2f))
    ).toDF("id", "vec")
    val pairs = Dedup.cosineNearDupPairs(vecs, "id", "vec", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("semanticDedup: lower-id in-cluster neighbor above threshold drops the row") {
    val rnd = new scala.util.Random(7)
    // 3 tight directional bundles + isolated points; duplicates within a
    // bundle should collapse to the lowest id once they share a cluster
    val base = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val vecs = (0 until 30).map { i =>
      val b = base(i % 3)
      (i.toLong, b.map(x => x + rnd.nextFloat() * 0.1f))
    }.toDF("id", "vec")
    val tau = 0.95
    val got = Dedup.semanticDedup(vecs, "id", "vec", nClusters = 4, minCosine = tau)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 30 && got.values.forall(v => v._2 == 0L || v._2 == 1L))
    // reconstruct the expected drop set from the same deterministic
    // assignment + exact pairwise cosine
    val asg = SimilaritySearch.clusterAssign(vecs, "id", "vec", nClusters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
             math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val wantDropped = raw.keys.filter(y =>
      raw.keys.exists(x => x < y && asg(x) == asg(y) && cos(raw(x), raw(y)) >= tau)).toSet
    assert(wantDropped.nonEmpty, "fixture produced no in-cluster near-dups")
    val gotDropped = got.collect { case (id, (_, 0L)) => id }.toSet
    assert(gotDropped == wantDropped, s"got=$gotDropped want=$wantDropped")
    got.foreach { case (id, (c, _)) => assert(c == asg(id)) }
    Dedup.releaseCaches()
  }

  test("semanticDedup approx path: in-cluster SRP mining is sound and catches identical vectors") {
    val rnd = new scala.util.Random(11)
    val base = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    // pairs of EXACT duplicates (same vector twice) plus unique noise:
    // identical vectors share every SRP band, so the miner must find them
    val vecs = (0 until 40).map { i =>
      val v =
        if (i % 10 < 2) base((i / 10) % 3).map(x => x + (i / 10) * 0.01f) // identical pair per decade
        else base(i % 3).map(x => x + rnd.nextFloat() * 3f)
      (i.toLong, v)
    }.toDF("id", "vec")
    val tau = 0.9999
    val exact = Dedup.semanticDedup(vecs, "id", "vec", nClusters = 4, minCosine = tau)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val approx = Dedup.semanticDedup(vecs, "id", "vec", nClusters = 4, minCosine = tau,
        lshAbove = 1, allowApprox = true, sizeHint = Some(40L))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val exactDropped = exact.collect { case (id, 0L) => id }.toSet
    val approxDropped = approx.collect { case (id, 0L) => id }.toSet
    // soundness: the miner verifies with exact cosine, so it can only
    // MISS pairs, never invent them
    assert(approxDropped.subsetOf(exactDropped), s"approx=$approxDropped exact=$exactDropped")
    // identical-direction duplicates have identical signatures -> always mined
    assert(exactDropped.nonEmpty && approxDropped == exactDropped,
      s"identical-vector dups must be caught: approx=$approxDropped exact=$exactDropped")
    Dedup.releaseCaches()
  }

  test("duplicatedSpanStats: cross-doc windows count with multiplicity, within-doc repeats don't") {
    val d = Seq(
      (0L, "a b c d"),            // windows: "a b c", "b c d"
      (1L, "a b c x"),            // shares "a b c" with 0 and 4
      (2L, "z z z z z"),          // "z z z" x3 but single-doc -> no dup
      (3L, "q w"),                // shorter than the window -> 0 windows
      (4L, "a b c a b c a b c")   // "a b c" x3 all dup; "b c a"/"c a b" not
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(d, "doc_id", "text", window = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0L) == ((2L, 1L, 0.5)))
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((3L, 0L, 0.0)))
    assert(got(3L) == ((0L, 0L, 0.0)))
    assert(got(4L) == ((7L, 3L, 0.428571)))
    Dedup.releaseCaches()
  }

  test("removeDuplicatedSpans: min-doc occurrence survives, covered tokens stripped elsewhere") {
    val d = Seq(
      (0L, "a b c d"),            // canonical doc for "a b c" -> untouched
      (1L, "a b c x"),            // "a b c" at pos 0 covers tokens 0-2
      (2L, "z z z z z"),          // within-doc repeats only -> untouched
      (3L, "q w"),                // shorter than the window -> untouched
      (4L, "a b c a b c a b c")   // three "a b c" occurrences cover all 9
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", window = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(0L) == ((4L, 0L, "a b c d")))
    assert(got(1L) == ((4L, 3L, "x")))
    assert(got(2L) == ((5L, 0L, "z z z z z")))
    assert(got(3L) == ((2L, 0L, "q w")))
    assert(got(4L) == ((9L, 9L, "")))
    Dedup.releaseCaches()
  }

  test("incrementalVerdicts: every verdict kind matches a brute-force JVM replay") {
    import graft.functions.{TextFunctions => TF}
    // JVM twin of fingerprintStore's 48-bit SimHash (seed-97 hash60
    // over the distinct token set)
    def sim48(text: String): Option[Long] = {
      val hs = TF.tokenizeJvm(text).distinct.map(t => TF.hash60Jvm("97:" + t))
      if (hs.isEmpty) None
      else Some((0 until 48).foldLeft(0L) { (acc, b) =>
        if (hs.map(h => ((h >> b) & 1L) * 2 - 1).sum > 0) acc | (1L << b) else acc
      })
    }
    def hamming(a: Long, bb: Long): Int = java.lang.Long.bitCount(a ^ bb)
    // a candidate mutation within SimHash radius 1..3 of `base`,
    // deterministic (md5 arithmetic): try appended rare tokens until
    // one lands inside the radius
    def nearOf(base: String): String = {
      val s0 = sim48(base).get
      (0 until 64).iterator.map(i => s"$base zq$i")
        .find(t => { val h = hamming(s0, sim48(t).get); h >= 1 && h <= 3 })
        .getOrElse(fail(s"no in-radius mutation found for: $base"))
    }
    val sA = (0 until 40).map(i => s"a$i").mkString(" ")
    val sB = (0 until 40).map(i => s"b$i").mkString(" ")
    val x = (0 until 40).map(i => s"x$i").mkString(" ")
    val uniq = (0 until 40).map(i => s"u$i").mkString(" ")
    val storeRows = Seq((0L, sA), (1L, sB), (3L, ""))
    val batchRows = Seq(
      (10L, sA),        // exact_store (dup_of 0)
      (11L, x),         // unique
      (12L, x),         // exact_batch (dup_of 11)
      (13L, nearOf(sB)),// near_store (dup_of 1)
      (14L, nearOf(x)), // near_batch (dup_of 11 — 11 and 12 share the fp)
      (15L, uniq),      // unique
      (16L, ""))        // exact_store of the empty store doc (null simhash path)
    // brute-force replay of the contract over raw texts
    val expected = batchRows.map { case (id, t) =>
      val h = TF.md5Hex(t)
      val s = sim48(t)
      def minBy(c: Seq[(Long, String)], p: ((Long, String)) => Boolean) =
        c.filter(p).map(_._1).sorted.headOption
      val es = minBy(storeRows, r => TF.md5Hex(r._2) == h)
      val eb = minBy(batchRows, r => r._1 < id && TF.md5Hex(r._2) == h)
      val ns = minBy(storeRows,
        r => s.isDefined && sim48(r._2).isDefined && hamming(s.get, sim48(r._2).get) <= 3)
      val nb = minBy(batchRows,
        r => r._1 < id && s.isDefined && sim48(r._2).isDefined && hamming(s.get, sim48(r._2).get) <= 3)
      val (verdict, dupOf) =
        if (es.isDefined) ("exact_store", es)
        else if (eb.isDefined) ("exact_batch", eb)
        else if (ns.isDefined) ("near_store", ns)
        else if (nb.isDefined) ("near_batch", nb)
        else ("unique", None)
      id -> ((verdict, dupOf))
    }.toMap
    assert(expected.values.map(_._1).toSet ==
      Set("exact_store", "exact_batch", "near_store", "near_batch", "unique"),
      "test corpus must exercise every verdict kind")
    val store = Dedup.fingerprintStore(
      storeRows.toDF("doc_id", "text"), "doc_id", "text", bits = 48)
    val got = Dedup.incrementalVerdicts(store, batchRows.toDF("doc_id", "text"),
        "doc_id", "text", bits = 48, maxHamming = 3, blocks = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got == expected)
    Dedup.releaseCaches()
  }
}
