package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HybridKnnSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat())

  // labels skewed so some category queries fall under the bf threshold
  private lazy val base = Seq.tabulate(1000)(i =>
    (i.toLong, (if (i % 100 == 0) 99L else (i % 4).toLong), (i % 50) / 50.0, vec()))
    .toDF("id", "label", "ts", "vec")

  private lazy val queries = Seq(
    (0L, 0, -1L, -1.0, -1.0, vec()),    // full_graph route
    (1L, 1, 2L, -1.0, -1.0, vec()),     // category, sel ~0.25 → category_graph
    (2L, 1, 99L, -1.0, -1.0, vec()),    // rare category, sel 0.01 → bruteforce
    (3L, 2, -1L, 0.2, 0.6, vec()),      // range → interval_graph
    (4L, 3, 99L, 0.0, 0.9, vec()),      // rare category + range → bruteforce
    (5L, 2, -1L, 0.0, 0.01, vec()),     // narrow range → bruteforce (type 2)
    (6L, 3, 2L, 0.1, 0.9, vec())        // common category + wide range → category_graph (type 3)
  ).toDF("qid", "qtype", "v", "l", "r", "qvec")

  test("exact configuration equals the one-shot exact join, with pruned layout") {
    val dir = Files.createTempDirectory("graft-hybrid").toString
    val layout = Layouts.ensureCategoryLayout(base, s"$dir/by_label")
    val routed = HybridKnn.execute(base, queries, 10, Some(layout))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = KnnJoin.exactFlat(base, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(routed == exact && routed.nonEmpty)
  }

  test("chunked execution (forced tiny chunkRows) equals the single-collect result") {
    val single = HybridKnn.execute(base, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val chunked = HybridKnn.execute(base, queries, 10, chunkRows = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(chunked == single && chunked.nonEmpty)
  }

  test("ann configuration: graph routes hit their sub-indexes with high recall, bf routes stay exact") {
    val root = Files.createTempDirectory("graft-hybrid-stores").toString
    graft.index.TypeStores.ensure(base, root)
    val routed = HybridKnn.execute(base, queries, 10, None, stores = Some(root), ef = 256)
    val exact = KnnJoin.exactFlat(base, queries, 10)
    // bruteforce-routed queries (2, 4, 5) must be byte-identical
    val bfIds = Set(2L, 4L, 5L)
    val rBf = routed.filter($"qid".isin(bfIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val eBf = exact.filter($"qid".isin(bfIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rBf == eBf)
    // graph-routed queries (0: full, 1: category, 3: interval,
    // 6: type-3 category range walk): recall floor
    Seq(0L, 1L, 3L, 6L).foreach { qid =>
      val recall = KnnJoin.recallAtK(
        routed.filter($"qid" === qid), exact.filter($"qid" === qid))
      assert(recall >= 0.9, s"qid $qid recall $recall")
    }
    // type-3 graph route must still satisfy BOTH predicates exactly
    val t3 = routed.filter($"qid" === 6L)
      .join(base.select($"id".as("nid"), $"label", $"ts"), "nid")
    assert(t3.filter($"label" =!= 2L || $"ts" < 0.1 || $"ts" > 0.9).count() == 0)
  }
}
