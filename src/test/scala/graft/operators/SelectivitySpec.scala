package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import org.apache.spark.graft.JobRecorder

class SelectivitySpec extends SparkSpec {
  import spark.implicits._

  // 1000 rows: labels 0..9 equally sized (sel 0.1 each), ts uniform
  private lazy val base = Seq.tabulate(1000)(i =>
    (i.toLong, (i % 10).toLong, i / 1000.0, Array(i.toFloat)))
    .toDF("id", "label", "ts", "vec")

  private lazy val queries = Seq(
    (0L, 0, -1L, -1.0, -1.0),   // type0 → full_graph
    (1L, 1, 3L, -1.0, -1.0),    // sel 0.1 ≥ 0.045 → category_graph
    (2L, 2, -1L, 0.0, 0.02),    // sel ~0.021 < 0.045 → bruteforce
    (3L, 2, -1L, 0.0, 0.5),     // sel ~0.5 → interval_graph
    (4L, 3, 3L, 0.0, 0.49)      // sel ~0.05 < 0.08 → bruteforce
  ).toDF("qid", "qtype", "v", "l", "r")

  test("routeQueries computes exact selectivity and reference routes") {
    val routes = Selectivity.routeQueries(base, queries)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(4))).toMap
    assert(routes(0L) == (1000L, "full_graph"))
    assert(routes(1L) == (100L, "category_graph"))
    assert(routes(2L)._2 == "bruteforce")
    assert(routes(3L)._2 == "interval_graph")
    assert(routes(4L)._2 == "bruteforce")
  }

  test("routeQueriesFast agrees with exact routing on lookup-resolvable queries") {
    val exact = Selectivity.routeQueries(base, queries)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val fast = Selectivity.routeQueriesFast(base, queries)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fast == exact)
    // estimates are exact for type 0/1 and decile-aligned ranges here
    val sels = Selectivity.routeQueriesFast(base, queries)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sels(0L) == 1.0)
    assert(math.abs(sels(1L) - 0.1) < 1e-12)
  }

  test("cellCounts per-label and per-decile sums are exact") {
    val cells = Selectivity.cellCounts(base)
    val cc = cells.groupMapReduce(_._1._1)(_._2)(_ + _)
    assert(cc.size == 10 && cc.values.forall(_ == 100L))
    val dh = cells.groupMapReduce(_._1._2)(_._2)(_ + _)
    assert(dh.size == 10 && dh.values.forall(_ == 100L))
  }

  test("withRoutes' stats pass runs 1 job with no shuffle stage") {
    val rec = JobRecorder.record(spark.sparkContext)(Selectivity.withRoutes(base, queries))
    assert(rec.jobs.size == 1, rec.jobs.map(_.entry))
    assert(rec.jobs.head.stages == 1, s"${rec.jobs.head.stages} stages")
  }

  test("splitInterval classifies SMALL/MEDIUM/FULL like the reference") {
    val rq = Seq(
      (0L, 0.0, 1.0),     // full range → 10 FULL buckets
      (1L, 0.05, 0.06),   // sliver of bucket 0 → SMALL
      (2L, 0.05, 0.55)    // partial/full/partial
    ).toDF("qid", "l", "r")
    val out = Selectivity.splitInterval(rq).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
    assert((0 until 10).forall(b => out((0L, b)) == "FULL"))
    assert(out((1L, 0)) == "SMALL")
    assert(out((2L, 0)) == "MEDIUM")   // covers 0.05..0.1 of bucket 0 = 0.5
    assert((1 to 4).forall(b => out((2L, b)) == "FULL"))
    assert(out((2L, 5)) == "MEDIUM")   // covers half of bucket 5
    assert(!out.contains((1L, 1)) && !out.contains((2L, 6)))
  }
}
