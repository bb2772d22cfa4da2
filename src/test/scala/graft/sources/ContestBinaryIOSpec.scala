package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.SparkSpec
import graft.operators.KnnJoin
import org.apache.spark.graft.JobRecorder
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

class ContestBinaryIOSpec extends SparkSpec {

  private val rnd = new scala.util.Random(17)
  private val dim = 12

  private def writeRows(rows: IndexedSeq[(Long, Double, Array[Float])], parts: Int): String = {
    val tmp = Files.createTempFile("graft-base", ".bin").toString
    ContestBinaryIO.writeBase(spark, tmp, rows.length, dim, parts)(id => rows(id.toInt))
    tmp
  }

  test("readBase round-trips the contest binary format, ids are file ordinals") {
    val rows = IndexedSeq.tabulate(257)(i =>
      (i % 7L, rnd.nextDouble(), Array.fill(dim)(rnd.nextFloat())))
    val tmp = writeRows(rows, parts = 3)
    assert(Files.size(Paths.get(tmp)) == 4L + 257L * (2 + dim) * 4)
    val df = ContestBinaryIO.readBase(spark, tmp, dim, numPartitions = 5)
    val got = df.orderBy("id").collect()
    assert(got.length == 257)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i)
      assert(r.getLong(1) == rows(i)._1)
      assert(math.abs(r.getDouble(2) - rows(i)._2.toFloat.toDouble) < 1e-9)
      assert(r.getSeq[Float](3).toArray.sameElements(rows(i)._3))
    }
  }

  test("a header that claims more rows than the file holds fails with short read") {
    val rows = IndexedSeq.tabulate(40)(i => (i % 3L, i / 40.0, Array.fill(dim)(1f * i)))
    val tmp = writeRows(rows, parts = 2)
    // tear the file: keep the header (40 rows) and 25.5 rows of body
    val ch = Files.newByteChannel(Paths.get(tmp), StandardOpenOption.WRITE)
    try ch.truncate(4L + 25L * (2 + dim) * 4 + 2 * 4) finally ch.close()
    Seq(1, 4, 64).foreach { parts =>
      val e = intercept[SparkException](
        ContestBinaryIO.readBase(spark, tmp, dim, parts).collect())
      assert(e.getMessage.contains("short read"), s"parts=$parts: ${e.getMessage}")
    }
  }

  test("a 0-row file reads as empty with the declared schema") {
    val base = writeRows(IndexedSeq.empty, parts = 2)
    assert(Files.size(Paths.get(base)) == 4L)
    val df = ContestBinaryIO.readBase(spark, base, dim, numPartitions = 8)
    assert(df.schema == ContestBinarySource.schemaFor("base"))
    assert(df.collect().isEmpty)
    val queries = Files.createTempFile("graft-q0", ".bin").toString
    ContestBinaryIO.writeQueries(spark, queries, 0L, dim, 2)(
      _ => throw new IllegalStateException("no rows to encode"))
    val q = ContestBinaryIO.readQueries(spark, queries, dim)
    assert(q.schema == ContestBinarySource.schemaFor("query"))
    assert(q.count() == 0L)
  }

  test("more partitions than rows returns every id exactly once") {
    val rows = IndexedSeq.tabulate(5)(i => (1L, 0.5, Array.fill(dim)(i.toFloat)))
    val tmp = writeRows(rows, parts = 2)
    val df = ContestBinaryIO.readBase(spark, tmp, dim, numPartitions = 32)
    val ids = df.select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).head)
    assert(ids.map(_._1).sorted.toSeq == (0L until 5L))
    ids.foreach { case (id, v) => assert(v == id.toFloat) }
  }

  test("writeKnn emits uint32 rows in qid order with -1 padding") {
    import spark.implicits._
    val res = Seq((1L, Seq(5L, 6L)), (0L, Seq(9L, 8L, 7L))).toDF("qid", "neighbors")
    val tmp = Files.createTempFile("graft-knn", ".bin").toString
    ContestBinaryIO.writeKnn(res, tmp, k = 3)
    val bytes = Files.readAllBytes(Paths.get(tmp))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val ints = Array.fill(6)(bb.getInt)
    assert(ints.toSeq == Seq(9, 8, 7, 5, 6, -1))
  }

  private def knnInts(path: String): Seq[Int] = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    Seq.fill(bb.remaining / 4)(bb.getInt)
  }

  private def knnFrame(rows: Seq[(Long, Seq[Long])], parts: Int) = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF("qid", "neighbors")
  }

  test("writeKnn places blocks by qid whatever the partitioning and row order") {
    val tmp = Files.createTempFile("graft-knn-rev", ".bin").toString
    ContestBinaryIO.writeKnn(knnFrame(Seq((1L, Seq(5L, 6L)), (0L, Seq(9L, 8L, 7L))), 2), tmp, k = 3)
    assert(knnInts(tmp) == Seq(9, 8, 7, 5, 6, -1))
    // reverse order over several partitions, runs split across tasks
    val rows = (0L until 50L).reverse.map(q => (q, Seq(q * 10, q * 10 + 1)))
    ContestBinaryIO.writeKnn(knnFrame(rows, 4), tmp, k = 2)
    assert(knnInts(tmp) == (0 until 50).flatMap(q => Seq(q * 10, q * 10 + 1)))
  }

  test("writeKnn fails on a qid gap or a duplicate qid and leaves no output") {
    val dir = Files.createTempDirectory("graft-knn-bad")
    val out = dir.resolve("output.bin").toString
    ContestBinaryIO.writeKnn(knnFrame(Seq((0L, Seq(1L)), (1L, Seq(2L))), 2), out, k = 1)
    assert(Files.size(Paths.get(out)) == 8L)
    Seq(
      "gap" -> Seq((0L, Seq(1L)), (2L, Seq(3L))),
      "duplicate" -> Seq((0L, Seq(1L)), (1L, Seq(2L)), (1L, Seq(4L)))
    ).foreach { case (name, rows) =>
      val e = intercept[IllegalArgumentException](
        ContestBinaryIO.writeKnn(knnFrame(rows, 2), out, k = 1))
      assert(e.getMessage.contains("exactly once"), s"$name: ${e.getMessage}")
      assert(!Files.exists(Paths.get(out)), s"$name: a failed write left $out")
      assert(Files.list(dir).count() == 0L, s"$name: a failed write left its temp file")
    }
  }

  test("writeKnn over a local DataFrame runs 1 job") {
    import spark.implicits._
    val res = Seq((1L, Seq(5L, 6L)), (0L, Seq(9L, 8L, 7L))).toDF("qid", "neighbors")
    val tmp = Files.createTempFile("graft-knn-jobs", ".bin").toString
    val rec = JobRecorder.record(spark.sparkContext)(ContestBinaryIO.writeKnn(res, tmp, k = 3))
    assert(rec.jobs.size == 1, rec.jobs.map(_.entry))
    assert(knnInts(tmp) == Seq(9, 8, 7, 5, 6, -1))
  }

  test("binary-sourced base feeds the kNN join end-to-end") {
    import spark.implicits._
    val rows = IndexedSeq.tabulate(100)(i =>
      ((i % 4).toLong, i / 100.0, Array.fill(dim)(rnd.nextFloat())))
    val base = ContestBinaryIO.readBase(spark, writeRows(rows, parts = 2), dim, 3)
    val queries = Seq((0L, 1, 2L, -1.0, -1.0, Array.fill(dim)(rnd.nextFloat())))
      .toDF("qid", "qtype", "v", "l", "r", "qvec")
    val out = KnnJoin.exact(base, queries, 5).collect()
    assert(out.length == 1 && out.head.getSeq[Long](1).size == 5)
  }
}
