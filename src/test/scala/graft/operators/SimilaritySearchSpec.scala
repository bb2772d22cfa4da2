package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySearchSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(31)
  private val dim = 16

  /** Clustered corpus: 40 centers × 40 perturbed members. */
  private lazy val clustered = {
    val centers = Array.fill(40)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    Seq.tabulate(1600) { i =>
      val c = centers(i % 40)
      (i.toLong, c.map(x => x + rnd.nextFloat().toFloat * 0.5f))
    }.toDF("id", "vec")
  }

  private lazy val queries = clustered.filter($"id" < 10)
    .select($"id".as("qid"), $"vec".as("qvec"))

  test("LSH cosine top-k recall >= 0.8 vs brute force on clustered data") {
    val exact = SimilaritySearch.bruteForceCosineTopK(clustered, queries, 10)
    val approx = SimilaritySearch.lshCosineTopK(clustered, queries, 10, numPlanes = 10)
    val recall = KnnJoin.recallAtK(approx, exact)
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF kNN recall >= 0.85 vs exact on clustered data") {
    val l2queries = clustered.filter($"id" < 10)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val approx = SimilaritySearch.ivfKnn(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 5)
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      // ivfKnn excludes self-matches; align the oracle
      .filter($"nid" =!= $"qid")
    val recall = KnnJoin.recallAtK(approx, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("seeded IVF: deterministic across runs, k rows per query, decent recall") {
    val l2queries = clustered.filter($"id" < 10)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val a = SimilaritySearch.ivfKnnSeeded(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 5)
    val rows = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly k neighbors per query, ranks 1..k, no self-matches
    assert(rows.groupBy(_._1).forall { case (_, g) =>
      g.length == 10 && g.map(_._2).sorted.toSeq == (1L to 10L) })
    assert(rows.forall { case (qid, _, nid) => qid != nid })
    val b = SimilaritySearch.ivfKnnSeeded(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 5)
    assert(rows.sorted.toSeq ==
      b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      .filter($"nid" =!= $"qid")
    // random seeds trail k-means at equal nlist — assert a looser floor
    val recall = KnnJoin.recallAtK(a, exact)
    assert(recall >= 0.6, s"recall $recall")
  }

  test("clusterAssign: argmin assignment matches a driver-side recompute") {
    val assigned = SimilaritySearch.clusterAssign(
      clustered.select($"id", $"vec"), "id", "vec", nClusters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // recompute the hash-seeded centroids the same way and brute-force
    // the argmin on the driver
    val rows = clustered.select($"id", $"vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val md = java.security.MessageDigest.getInstance("MD5")
    def seedKey(id: Long): Long = {
      val hex = md.digest(s"ivfseed:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val cents = rows.sortBy(r => (seedKey(r._1), r._1)).take(8)
      .sortBy(_._1).map(_._2)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    val expect = rows.map { case (id, v) =>
      val ds = cents.map(l2(v, _))
      val c = ds.zipWithIndex.minBy { case (d, i) => (d, i) }
      (id, c._2.toLong, c._1)
    }.toSeq
    assert(assigned.sortBy(_._1) == expect.sortBy(_._1))
    // trained-centroid path: k rows per cluster structure holds
    val trained = SimilaritySearch.clusterAssign(
      clustered.select($"id", $"vec"), "id", "vec",
      centroids = SimilaritySearch.lloydKMeans(rows.map(_._2), 8, 5, seed = 7L))
      .collect()
    assert(trained.length == rows.length)
    assert(trained.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
  }

  test("signatures are deterministic across invocations") {
    val planes = SimilaritySearch.randomPlanes(8, dim, seed = 7L)
    val planes2 = SimilaritySearch.randomPlanes(8, dim, seed = 7L)
    assert(planes.flatten.toSeq == planes2.flatten.toSeq)
    val sig1 = clustered.withColumn("b", SimilaritySearch.srpSignature($"vec", planes))
      .select("id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sig2 = clustered.withColumn("b", SimilaritySearch.srpSignature($"vec", planes2))
      .select("id", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sig1 == sig2)
  }

  test("PQ-ADC kNN: deterministic, k rows per query, refine recall >= 0.85") {
    val l2queries = clustered.filter($"id" < 10)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val a = SimilaritySearch.pqKnnSeeded(clustered, l2queries, k = 10,
      m = 4, ksub = 16, refineK = 60)
    val b = SimilaritySearch.pqKnnSeeded(clustered, l2queries, k = 10,
      m = 4, ksub = 16, refineK = 60)
    val rowsA = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val rowsB = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rowsA.toSeq == rowsB.toSeq, "seeded PQ must be run-deterministic")
    assert(rowsA.groupBy(_._1).forall(_._2.length == 10))
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      .filter($"nid" =!= $"qid")
    val recall = KnnJoin.recallAtK(a, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("PQ-ADC stage-1 candidates come from codes: wider refineK only improves recall") {
    val l2queries = clustered.filter($"id" < 6)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      .filter($"nid" =!= $"qid")
    val narrow = KnnJoin.recallAtK(
      SimilaritySearch.pqKnnSeeded(clustered, l2queries, 10, refineK = 15), exact)
    val wide = KnnJoin.recallAtK(
      SimilaritySearch.pqKnnSeeded(clustered, l2queries, 10, refineK = 200), exact)
    assert(wide >= narrow, s"refine monotonicity: narrow=$narrow wide=$wide")
    assert(wide >= 0.95, s"near-exhaustive refine should approach exact: $wide")
  }

  test("PQ-ADC trained codebooks: deterministic, and at least as good as seeded") {
    val l2queries = clustered.filter($"id" < 10)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      .filter($"nid" =!= $"qid")
    val t1 = SimilaritySearch.pqKnnTrained(clustered, l2queries, k = 10,
      m = 4, ksub = 16, refineK = 60)
    val t2 = SimilaritySearch.pqKnnTrained(clustered, l2queries, k = 10,
      m = 4, ksub = 16, refineK = 60)
    val rows1 = t1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val rows2 = t2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows1.toSeq == rows2.toSeq, "trained PQ must be run-deterministic (fixed seed)")
    val seeded = SimilaritySearch.pqKnnSeeded(clustered, l2queries, k = 10,
      m = 4, ksub = 16, refineK = 60)
    val rT = KnnJoin.recallAtK(t1, exact)
    val rS = KnnJoin.recallAtK(seeded, exact)
    assert(rT >= rS - 0.05, s"trained recall $rT should not lose to seeded $rS")
    assert(rT >= 0.85, s"trained recall $rT")
  }

  test("IVF-PQ: deterministic, probed-lists-only candidates, recall floor; residual trained path wins") {
    val l2queries = clustered.filter($"id" < 10)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val exact = KnnJoin.exactFlat(
      clustered.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      l2queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
      .filter($"nid" =!= $"qid")
    val a = SimilaritySearch.ivfPqKnnSeeded(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 6, m = 4, ksub = 16, refineK = 60)
    val b = SimilaritySearch.ivfPqKnnSeeded(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 6, m = 4, ksub = 16, refineK = 60)
    val rowsA = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val rowsB = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rowsA.toSeq == rowsB.toSeq, "seeded IVF-PQ must be run-deterministic")
    assert(rowsA.groupBy(_._1).forall { case (_, g) =>
      g.length == 10 && g.map(_._2).sorted.toSeq == (1L to 10L) })
    assert(rowsA.forall { case (qid, _, nid) => qid != nid })
    // routing really prunes: with nprobe == nlist the candidate space is
    // the whole corpus, so recall can only improve (or hold)
    val rSeeded = KnnJoin.recallAtK(a, exact)
    val rAllLists = KnnJoin.recallAtK(
      SimilaritySearch.ivfPqKnnSeeded(clustered, l2queries, k = 10,
        nlist = 20, nprobe = 20, m = 4, ksub = 16, refineK = 60), exact)
    assert(rAllLists >= rSeeded,
      s"probe monotonicity: nprobe=6 $rSeeded vs nprobe=20 $rAllLists")
    assert(rSeeded >= 0.8, s"seeded IVF-PQ recall $rSeeded")
    // trained residual codebooks (the quality path): deterministic and
    // at least as good as seeded at the same operating point
    val t1 = SimilaritySearch.ivfPqKnnTrained(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 6, m = 4, ksub = 16, refineK = 60)
    val t2 = SimilaritySearch.ivfPqKnnTrained(clustered, l2queries, k = 10,
      nlist = 20, nprobe = 6, m = 4, ksub = 16, refineK = 60)
    assert(t1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      t2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "trained IVF-PQ must be run-deterministic (fixed seed)")
    val rTrained = KnnJoin.recallAtK(t1, exact)
    assert(rTrained >= rSeeded - 0.05,
      s"trained recall $rTrained should not lose to seeded $rSeeded")
    assert(rTrained >= 0.85, s"trained IVF-PQ recall $rTrained")
  }

  test("brute force cosine excludes self and ranks by similarity") {
    val flat = SimilaritySearch.bruteForceCosineTopK(clustered, queries, 5).collect()
    assert(flat.forall(r => r.getLong(2) != r.getLong(0)))
    assert(flat.groupBy(_.getLong(0)).forall(_._2.length == 5))
  }
}
