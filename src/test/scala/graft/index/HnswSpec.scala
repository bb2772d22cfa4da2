package graft.index

import graft.SparkSpec

class HnswSpec extends SparkSpec {

  private val rnd = new scala.util.Random(2024)
  private val dim = 16
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())

  test("HnswIndex single-index recall@10 >= 0.95 on 2000 random vectors") {
    val data = Array.fill(2000)(vec())
    val idx = new HnswIndex(dim, m = 16, efConstruction = 200)
    data.foreach(idx.add)
    val queries = Array.fill(20)(vec())
    val recalls = queries.map { q =>
      val approx = idx.search(q, 10, ef = 128).map(_._1).toSet
      val exact = data.zipWithIndex.map { case (v, i) =>
        (v.zip(q).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum, i)
      }.sortBy(t => (t._1, t._2)).take(10).map(_._2).toSet
      approx.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"mean recall $mean")
  }

  test("exactOverQ: quantized two-stage slice scan recalls >= 0.9 of the exact slice top-k") {
    val data = Array.fill(3000)(vec()) // > 2048 so the quantized path engages
    val idx = new HnswIndex(dim, m = 16, efConstruction = 200)
    data.foreach(idx.add)
    val nodes = Array.tabulate(3000)(identity)
    val recalls = Array.fill(20)(vec()).map { q =>
      val exact = idx.exactOver(q, nodes, 10).map(_._1).toSet
      val quant = idx.exactOverQ(q, nodes, 10)
      assert(quant.length == 10)
      assert(quant.sliding(2).forall(p => p(0)._2 <= p(1)._2)) // ascending dist
      quant.map(_._1).toSet.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean")
    // small slices bypass quantization entirely: exact equality
    val small = Array.tabulate(500)(identity)
    val q = vec()
    assert(idx.exactOverQ(q, small, 10).toSeq == idx.exactOver(q, small, 10).toSeq)
  }

  test("filtered search returns only allowed ids") {
    val data = Array.fill(500)(vec())
    val idx = new HnswIndex(dim)
    data.foreach(idx.add)
    val got = idx.search(vec(), 10, 256, allowed = _ % 2 == 0)
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0))
  }

  test("fromBytesCached: identical results, one deserialization, stale-proof key") {
    val data = Array.fill(800)(vec())
    val idx = new HnswIndex(dim, m = 8, efConstruction = 100)
    data.foreach(idx.add)
    val bytes = idx.toBytes
    HnswIndex.clearCache()
    val a = HnswIndex.fromBytesCached(bytes)
    // same blob (even a distinct array copy) → same cached instance
    assert(HnswIndex.fromBytesCached(bytes.clone()) eq a)
    val q = vec()
    assert(a.search(q, 10, 128).toSeq == HnswIndex.fromBytes(bytes).search(q, 10, 128).toSeq)
    // a different graph serialized to the same "path" must not collide
    val idx2 = new HnswIndex(dim, m = 8, efConstruction = 100)
    data.reverse.foreach(idx2.add)
    assert(!(HnswIndex.fromBytesCached(idx2.toBytes) eq a))
  }

  test("concurrent searches on one shared instance match sequential results") {
    val data = Array.fill(1500)(vec())
    val idx = new HnswIndex(dim, m = 8, efConstruction = 100)
    data.foreach(idx.add)
    val queries = Array.fill(64)(vec())
    val sequential = queries.map(q => idx.search(q, 10, 96).toSeq)
    // also exercise the filtered walk (hop-depth scratch) concurrently
    val seqFiltered = queries.map(q =>
      idx.search(q, 10, 96, allowed = _ % 3 == 0, seeds = Array(0, 3, 6)).toSeq)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val par = Await.result(
      Future.sequence(queries.toSeq.map(q => Future(idx.search(q, 10, 96).toSeq))),
      60.seconds)
    val parFiltered = Await.result(
      Future.sequence(queries.toSeq.map(q =>
        Future(idx.search(q, 10, 96, allowed = _ % 3 == 0, seeds = Array(0, 3, 6)).toSeq))),
      60.seconds)
    assert(par == sequential.toSeq)
    assert(parFiltered == seqFiltered.toSeq)
  }

  test("empty and tiny indexes behave") {
    val idx = new HnswIndex(dim)
    assert(idx.search(vec(), 5, 10).isEmpty)
    idx.add(Array.fill(dim)(0.5f))
    val one = idx.search(vec(), 5, 10)
    assert(one.length == 1 && one.head._1 == 0)
  }

  test("preTrain encodes the entry node (codes not left at origin)") {
    val idx = new HnswIndex(dim, m = 8, efConstruction = 50)
    idx.preTrain(1.0)
    val first = Array.fill(dim)(0.9f)
    idx.add(first)
    idx.add(Array.fill(dim)(0.1f))
    val expected = first.map(org.apache.spark.sql.graft.Sq8Encode.encodeOne(_, 1.0))
    assert(idx.buildCodeRow(0).sameElements(expected),
      "entry node's build codes must reflect its vector, not zeros")
  }
}
