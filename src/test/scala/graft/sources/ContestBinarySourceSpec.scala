package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tools.ContestCorpus

/** The DSv2 reader on a generated fixture with the reference dummy's
  * shape (10,000 × 100 base, 100 queries): decoded rows equal the
  * [[ContestCorpus]] rows they were written from, and the F4 projection
  * split happens at the SCAN (pruned ReadSchema, no vector
  * materialization). */
class ContestBinarySourceSpec extends SparkSpec {

  private val (nBase, nQuery) = (10000L, 100L)

  private lazy val (dataPath, queryPath) = {
    val dir = Files.createTempDirectory("graft-contest-bin").toString
    val (b, q) = (s"$dir/data.bin", s"$dir/queries.bin")
    ContestBinaryIO.writeBase(spark, b, nBase, ContestCorpus.dim, 4)(ContestCorpus.baseRow)
    ContestBinaryIO.writeQueries(spark, q, nQuery, ContestCorpus.dim, 2)(ContestCorpus.queryRow)
    (b, q)
  }

  private def v2Base = spark.read.format("contest-bin")
    .option("kind", "base").load(dataPath)
  private def v2Query = spark.read.format("contest-bin")
    .option("kind", "query").load(queryPath)

  private def scanSchema(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.readSchema().catalogString
    }.getOrElse(fail("no BatchScanExec in plan"))

  // the file stores f32, so doubles come back rounded to f32
  private def f32(x: Double): Double = x.toFloat.toDouble

  test("base rows decode to the ContestCorpus rows they were written from") {
    val got = v2Base.orderBy("id").collect()
    assert(got.length === nBase)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i)
      val (label, ts, vec) = ContestCorpus.baseRow(i.toLong)
      assert(r.getLong(1) === label)
      assert(r.getDouble(2) === f32(ts))
      assert(r.getSeq[Float](3) === vec.toSeq)
    }
  }

  test("query rows decode to the ContestCorpus rows, -1 sentinels kept") {
    val got = v2Query.orderBy("qid").collect()
    assert(got.length === nQuery)
    got.foreach { r =>
      val (qtype, v, l, rr, qvec) = ContestCorpus.queryRow(r.getLong(0))
      assert(r.toSeq.slice(1, 5) === Seq(qtype, v, f32(l), f32(rr)))
      assert(r.getSeq[Float](5) === qvec.toSeq)
    }
  }

  test("meta-only projection prunes vec out of the scan (F4 at the source)") {
    val df = v2Base.select(col("label"), col("ts"))
    assert(scanSchema(df) === "struct<label:bigint,ts:double>")
    // and the pruned scan still computes correctly
    val byLabel = df.groupBy("label").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L until nBase).map(id => ContestCorpus.baseRow(id)._1)
      .groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    assert(byLabel === expected)
  }

  test("ordinal ids survive pruning and partitioning") {
    val ids = v2Base.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.head === 0L && ids.last === ids.length - 1L)
    assert(ids.distinct.length === ids.length)
  }
}
