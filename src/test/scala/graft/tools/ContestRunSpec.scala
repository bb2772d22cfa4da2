package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkSpec
import graft.operators.KnnJoin
import graft.sources.ContestBinaryIO

/** The binary lifecycle of ContestRun: gen mode's parallel positioned
  * binary writer ([[ContestBinaryIO.writeBase]]/`writeQueries`)
  * reproduces [[ContestCorpus]] row for row, the scale lifecycle answers
  * every query type from its stored indexes, and `main` takes no other
  * mode. */
class ContestRunSpec extends SparkSpec {

  private def writeBase(path: String, n: Long, parts: Int): Unit =
    ContestBinaryIO.writeBase(spark, path, n, ContestCorpus.dim, parts)(ContestCorpus.baseRow)

  private def writeQueries(path: String, nq: Long, parts: Int): Unit =
    ContestBinaryIO.writeQueries(spark, path, nq, ContestCorpus.dim, parts)(
      ContestCorpus.queryRow)

  test("main without a gen or scale mode throws the usage before building a session") {
    val before = SparkSession.getDefaultSession
    Seq(Array.empty[String], Array("small"), Array("data.bin", "q.bin"),
        Array("gen", "100"), Array("scale", "base.bin")).foreach { args =>
      val e = intercept[IllegalArgumentException](ContestRun.main(args))
      assert(e.getMessage.contains("ContestRun gen N NQ basePath queryPath"), e.getMessage)
      assert(e.getMessage.contains("ContestRun scale basePath queryPath outPath"), e.getMessage)
    }
    assert(SparkSession.getDefaultSession == before)
    before.foreach(s => assert(!s.sparkContext.isStopped))
  }

  test("writeBinaryParallel emits the contest base format; read-back matches ContestCorpus") {
    val tmp = Files.createTempFile("graft-gen-base", ".bin").toString
    val n = 1000L
    writeBase(tmp, n, parts = 7)
    assert(new java.io.File(tmp).length() == 4L + n * (2 + ContestCorpus.dim) * 4)
    val got = ContestBinaryIO.readBase(spark, tmp, ContestCorpus.dim, numPartitions = 4)
      .orderBy("id").collect()
    assert(got.length == n)
    Seq(0, 1, 499, 999).foreach { i =>
      val (label, ts, vec) = ContestCorpus.baseRow(i.toLong)
      val r = got(i)
      assert(r.getLong(0) == i)
      assert(r.getLong(1) == label)
      // ts round-trips through f32 (the file format's width)
      assert(math.abs(r.getDouble(2) - ts.toFloat.toDouble) < 1e-9)
      assert(r.getSeq[Float](3).toArray.sameElements(vec))
    }
  }

  test("writeBinaryParallel query format preserves -1 sentinels per type") {
    val tmp = Files.createTempFile("graft-gen-q", ".bin").toString
    val nq = 64L
    writeQueries(tmp, nq, parts = 3)
    val got = ContestBinaryIO.readQueries(spark, tmp, ContestCorpus.dim, numPartitions = 2)
      .orderBy("qid").collect()
    assert(got.length == nq)
    got.foreach { r =>
      val qid = r.getLong(0)
      val (qtype, v, l, rr, qvec) = ContestCorpus.queryRow(qid)
      assert(r.getInt(1) == qtype)
      assert(r.getLong(2) == v)
      assert(math.abs(r.getDouble(3) - l.toFloat.toDouble) < 1e-9)
      assert(math.abs(r.getDouble(4) - rr.toFloat.toDouble) < 1e-9)
      assert(r.getSeq[Float](5).toArray.sameElements(qvec))
      // type semantics: v only for 1/3, window only for 2/3
      if (qtype == 0 || qtype == 2) assert(v == -1L)
      if (qtype < 2) assert(l == -1.0 && rr == -1.0)
      else assert(l >= 0.0 && rr > l)
    }
  }

  test("runScale writes one k-block per query at recall@100 >= 0.9 for every type") {
    val dir = Files.createTempDirectory("graft-contest-scale").toString
    val (n, nq, k) = (3000L, 96, 100)
    writeBase(s"$dir/base.bin", n, parts = 4)
    writeQueries(s"$dir/query.bin", nq, parts = 2)
    ContestRun.runScale(spark, s"$dir/base.bin", s"$dir/query.bin", s"$dir/output.bin",
      s"$dir/stages", k, ef = 400)

    val out = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/output.bin"))
    assert(out.length == 4L * nq * k, "one uint32 k-block per query, no header")
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val got = Array.fill(nq)(Array.fill(k)(bb.getInt.toLong).filter(_ >= 0).toSet)

    val base = ContestBinaryIO.readBase(spark, s"$dir/base.bin", ContestCorpus.dim, 4)
    val queries = ContestBinaryIO.readQueries(spark, s"$dir/query.bin", ContestCorpus.dim, 2)
    val exact = KnnJoin.exactFlat(base, queries, k).select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }
    val recall = (0 until nq).map { q =>
      val want = exact.getOrElse(q.toLong, Array.empty[Long])
      val r = if (want.isEmpty) (if (got(q).isEmpty) 1.0 else 0.0)
        else want.count(got(q).contains).toDouble / want.length
      (ContestCorpus.queryRow(q)._1, r)
    }.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sum / rs.length }
    assert(recall.keySet == Set(0, 1, 2, 3))
    recall.foreach { case (t, r) => assert(r >= 0.9, s"type $t recall@$k $r") }
  }
}
