package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the round-14 tuner optimization: [[EfTuner.tuneNprobe]] now
  * derives every rung from ONE all-lists walk (prefix-merged per rung)
  * instead of one searchIvf job per rung. The identity it relies on —
  * a rung's searchIvf result is exactly the (dist, id)-ascending top-k
  * over its probed lists' per-list candidates — is asserted here
  * against the real per-rung searchIvf jobs on a seeded store. */
class NprobeTunerEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("tuneNprobe rung recalls equal per-rung searchIvf measurements") {
    val dir = java.nio.file.Files.createTempDirectory("nprobe_eq").toFile
    val path = new java.io.File(dir, "ivf").getPath
    val rnd = new scala.util.Random(5)
    val dim = 16
    val base = (0 until 600).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat())))
    base.toDF("id", "vec").createOrReplaceTempView("b")
    AnnIndexStore.buildIvfSeeded(
      spark.table("b"), path, nlist = 4, m = 8, efConstruction = 80)

    val sample = base.take(12).map(_._2).toArray
    val k = 5
    val ef = 64
    // force the FULL ladder + extension to nlist: an unreachable target
    // measures every rung the merge path produces
    val res = EfTuner.tuneNprobe(spark, path, sample, k,
      targetRecall = 1.01, ef = ef, ladder = Seq(1, 2))

    // old-form measurement: one real searchIvf job per rung
    val queries = sample.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toSeq.toDF("qid", "qvec")
    def topIds(np: Int): Map[Long, Set[Long]] =
      AnnIndexStore.searchIvf(spark, path, queries, k, ef, np)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    val truth = topIds(4)
    res.rungs.foreach { rung =>
      val got = topIds(rung.nprobe)
      var hit = 0L
      var total = 0L
      truth.foreach { case (q, t) =>
        hit += t.intersect(got.getOrElse(q, Set.empty)).size
        total += t.size
      }
      val recall = if (total == 0) 1.0 else hit.toDouble / total
      assert(recall == rung.recall,
        s"nprobe=${rung.nprobe}: merged ${rung.recall} vs per-rung $recall")
    }
    // the extension reached nlist, whose rung is 1.0 by construction
    assert(res.rungs.map(_.nprobe) == Seq(1, 2, 4))
    assert(res.rungs.last.recall == 1.0)

    // determinism across runs (the gate's tuneOnce() == tuneOnce() tooth)
    val res2 = EfTuner.tuneNprobe(spark, path, sample, k,
      targetRecall = 1.01, ef = ef, ladder = Seq(1, 2))
    assert(res2 == res)
  }

  test("tuneNprobe clamps its ladder to the store's list count") {
    val dir = java.nio.file.Files.createTempDirectory("nprobe_clamp").toFile
    val path = new java.io.File(dir, "ivf").getPath
    val rnd = new scala.util.Random(9)
    val dim = 16
    val base = (0 until 1000).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat())))
    val nlist = 10
    AnnIndexStore.buildIvfSeeded(base.toDF("id", "vec"), path, nlist = nlist, m = 8,
      efConstruction = 80)
    val sample = base.take(12).map(_._2).toArray
    // uniform vectors and k = 100: each query's top-100 spans the lists,
    // so only the all-lists rung reaches recall 1.0
    val res = EfTuner.tuneNprobe(spark, path, sample, k = 100, targetRecall = 1.0, ef = 200)
    val below = res.rungs.filter(_.nprobe < nlist)
    assert(below.nonEmpty && below.forall(_.recall < 1.0), res.rungs)
    assert(res.chosen == nlist, res)
    assert(res.rungs.forall(_.nprobe <= nlist), res.rungs)
    assert(res.rungs.map(_.nprobe) == Seq(1, 2, 4, 8, nlist), res.rungs)
  }
}
