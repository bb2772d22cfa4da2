package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.KnnJoin
import graft.tools.ContestCorpus
import org.apache.spark.sql.functions._

/** The contest smoke workload at the reference dummy's shape
  * (dummy-data.bin: 10k rows × (label, ts, vec[100]); dummy-queries.bin:
  * 100 queries × (type, v, l, r, vec[100]) — the files baseline.cpp:30-32
  * defaults to), on a fixture generated from [[ContestCorpus]] in the
  * same binary layout, so it runs on every host. */
class ReferenceDummySpec extends SparkSpec {

  private lazy val (dataPath, queryPath) = {
    val dir = Files.createTempDirectory("graft-dummy-bin").toString
    val (b, q) = (s"$dir/dummy-data.bin", s"$dir/dummy-queries.bin")
    ContestBinaryIO.writeBase(spark, b, 10000, ContestCorpus.dim, 4)(ContestCorpus.baseRow)
    ContestBinaryIO.writeQueries(spark, q, 100, ContestCorpus.dim, 2)(ContestCorpus.queryRow)
    (b, q)
  }

  test("reads the contest dummy base with the documented shape") {
    val base = ContestBinaryIO.readBase(spark, dataPath, dim = 100, numPartitions = 8)
    assert(base.count() == 10000)
    val row = base.agg(
      min(col("ts")), max(col("ts")), countDistinct(col("label")), max(size(col("vec")))).head
    assert(row.getDouble(0) >= 0.0 && row.getDouble(1) <= 1.0)
    assert(row.getLong(2) > 1)
    assert(row.getInt(3) == 100)
  }

  test("answers the full dummy workload; type-1/3 results respect predicates") {
    val base = ContestBinaryIO.readBase(spark, dataPath, 100, 8)
    val queries = ContestBinaryIO.readQueries(spark, queryPath, 100, 2)
    assert(queries.count() == 100)
    assert(queries.select("qtype").distinct().collect().map(_.getInt(0)).toSet ==
      Set(0, 1, 2, 3))
    val res = KnnJoin.exactFlat(base, queries, k = 100)
    // join results back to base+queries and check predicate satisfaction
    val checked = res
      .join(queries.select("qid", "qtype", "v", "l", "r"), "qid")
      .join(base.select(col("id").as("nid"), col("label"), col("ts")), "nid")
    val bad = checked.filter(
      (col("qtype") === 1 && col("label") =!= col("v")) ||
      (col("qtype") === 2 && (col("ts") < col("l") || col("ts") > col("r"))) ||
      (col("qtype") === 3 && (col("label") =!= col("v") ||
        col("ts") < col("l") || col("ts") > col("r")))).count()
    assert(bad == 0)
    // every query with enough matches returns exactly k ordered ranks
    val counts = res.groupBy("qid").count().agg(max("count"), min("count")).head
    assert(counts.getLong(0) == 100L)
  }
}
