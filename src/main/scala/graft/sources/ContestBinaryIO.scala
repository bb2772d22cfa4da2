package graft.sources

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reads and writes the contest's little-endian binary formats
  * (FIXTURES.md §1; reference io.h:40-62 ReadBin, utils.h:257-276
  * ReadBase, utils.h:491-548 ReadQuery, io.h:22-33 SaveKNN).
  *
  * Reads go through the one row decoder, the `contest-bin` DataSource V2
  * ([[ContestBinarySource]]): engine-planned contiguous row ranges, one
  * per partition, ids assigned from the file ordinal. Writes of the input
  * formats go through one positioned parallel writer; only the row
  * encoders differ between base and query files.
  */
object ContestBinaryIO {

  /** Base table: (id LONG, label LONG, ts DOUBLE, vec ARRAY<FLOAT>).
    * File layout: uint32 N; N × (label f32, ts f32, vec f32[dim]). */
  def readBase(spark: SparkSession, path: String, dim: Int = 100,
      numPartitions: Int = 32): DataFrame =
    read(spark, "base", path, dim, numPartitions)

  /** Query table: (qid LONG, qtype INT, v LONG, l DOUBLE, r DOUBLE,
    * qvec ARRAY<FLOAT>). File: uint32 NQ; NQ × (type f32, v f32, l f32,
    * r f32, vec f32[dim]). The reference's -1 sentinels are preserved. */
  def readQueries(spark: SparkSession, path: String, dim: Int = 100,
      numPartitions: Int = 8): DataFrame =
    read(spark, "query", path, dim, numPartitions)

  private def read(spark: SparkSession, kind: String, path: String, dim: Int,
      numPartitions: Int): DataFrame =
    spark.read.format("contest-bin").option("kind", kind).option("dim", dim)
      .option("partitions", numPartitions).load(path)

  /** Writes `n` base rows, row `id` = `row(id)` = (label, ts, vec[dim]),
    * in the base layout `readBase` reads. */
  def writeBase(spark: SparkSession, path: String, n: Long, dim: Int, parts: Int)(
      row: Long => (Long, Double, Array[Float])): Unit =
    writeBinaryParallel(spark, path, n, dim, 2, parts) { (id, bb) =>
      val (label, ts, vec) = row(id)
      bb.putFloat(label.toFloat); bb.putFloat(ts.toFloat)
      putVec(bb, vec, dim)
    }

  /** Writes `nq` query rows, row `i` = `row(i)` = (type, v, l, r,
    * vec[dim]) with -1 for unused fields, in the layout `readQueries`
    * reads. */
  def writeQueries(spark: SparkSession, path: String, nq: Long, dim: Int, parts: Int)(
      row: Long => (Int, Long, Double, Double, Array[Float])): Unit =
    writeBinaryParallel(spark, path, nq, dim, 4, parts) { (i, bb) =>
      val (qtype, v, l, r, qvec) = row(i)
      bb.putFloat(qtype.toFloat); bb.putFloat(v.toFloat)
      bb.putFloat(l.toFloat); bb.putFloat(r.toFloat)
      putVec(bb, qvec, dim)
    }

  private def putVec(bb: ByteBuffer, vec: Array[Float], dim: Int): Unit = {
    require(vec.length == dim, s"vector of ${vec.length} floats, file dim is $dim")
    var d = 0
    while (d < dim) { bb.putFloat(vec(d)); d += 1 }
  }

  /** Rows/flush buffer: 4096 rows ≈ 1.6 MB base / 1.7 MB query at dim 100. */
  private val flushRows = 4096

  /** Each task fills a contiguous row range of the pre-sized file with
    * positioned writes — no coordination, no shuffle; ids are ordinals.
    * On a real cluster each range would be a part-object on shared
    * storage concatenated by manifest, same layout. */
  private def writeBinaryParallel(spark: SparkSession, path: String, n: Long, dim: Int,
      metaFloats: Int, parts: Int)(fill: (Long, ByteBuffer) => Unit): Unit = {
    require(n <= Int.MaxValue, s"contest header is uint32: n=$n")
    val rowBytes = (metaFloats + dim) * 4
    Option(new File(path).getParentFile).foreach(_.mkdirs())
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(4L + n * rowBytes)
      val hb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      hb.putInt(n.toInt)
      raf.seek(0); raf.write(hb.array())
    } finally raf.close()
    val rows = spark.range(0, n, 1, parts).rdd.mapPartitions { it =>
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.allocate(rowBytes * flushRows).order(ByteOrder.LITTLE_ENDIAN)
        var bufStart = -1L // first id currently buffered
        var count = 0L
        def flush(): Unit = if (buf.position() > 0) {
          buf.flip()
          var pos = 4L + bufStart * rowBytes
          while (buf.hasRemaining) pos += ch.write(buf, pos)
          buf.clear()
          bufStart = -1L
        }
        it.foreach { id =>
          if (bufStart < 0) bufStart = id
          fill(id, buf)
          count += 1
          if (!buf.hasRemaining) flush()
        }
        flush()
        Iterator.single(count)
      } finally ch.close()
    }.fold(0L)(_ + _) // fold: a 0-row range has no partitions to reduce
    require(rows == n, s"wrote $rows of $n rows")
  }

  /** Contest output sink (io.h:22-33): NQ × k uint32 neighbor ids, no
    * header, block `qid` at byte qid·4·k. `results` is (qid, neighbors)
    * with one row per query; a row with fewer than k neighbors is padded
    * with -1. Each task writes its rows' blocks at their offsets into a
    * temp file beside `path` (positioned writes, as
    * [[writeBinaryParallel]] does) and returns its qid bitset; the driver
    * checks that the rows cover qids 0..n-1 exactly once, sets the length
    * to n·4·k and renames the file to `path`. A gap, a duplicate or a
    * negative qid fails the write and leaves no file at `path`: one
    * missing row would otherwise shift every later block. One job after
    * the plan's own stages; no sort, no driver stream. */
  def writeKnn(results: DataFrame, path: String, k: Int): Unit = {
    import results.sparkSession.implicits._
    val out = new File(path).getAbsoluteFile
    out.getParentFile.mkdirs()
    Files.deleteIfExists(out.toPath)
    val tmp = new File(out.getParentFile, s".${out.getName}.tmp")
    Files.deleteIfExists(tmp.toPath)
    Files.createFile(tmp.toPath)
    val tmpPath = tmp.getPath
    val blockBytes = 4 * k
    try {
      val parts = results.select(col("qid").cast("long"), col("neighbors"))
        .as[(Long, Seq[Long])]
        .mapPartitions { it =>
          val seen = new java.util.BitSet()
          var rows = 0L
          val ch = FileChannel.open(Paths.get(tmpPath), StandardOpenOption.WRITE)
          try {
            val bb = ByteBuffer.allocate(blockBytes).order(ByteOrder.LITTLE_ENDIAN)
            it.foreach { case (qid, nb) =>
              require(qid >= 0 && qid < Int.MaxValue, s"writeKnn: qid $qid out of range")
              bb.clear()
              nb.iterator.take(k).foreach(x => bb.putInt(x.toInt))
              while (bb.hasRemaining) bb.putInt(-1) // pad when < k matches
              bb.flip()
              var pos = qid * blockBytes
              while (bb.hasRemaining) pos += ch.write(bb, pos)
              seen.set(qid.toInt)
              rows += 1
            }
          } finally ch.close()
          Iterator.single((rows, seen.toLongArray))
        }
        .collect()
      val seen = new java.util.BitSet()
      parts.foreach { case (_, bits) => seen.or(java.util.BitSet.valueOf(bits)) }
      val rows = parts.map(_._1).sum
      val n = seen.cardinality()
      require(rows == n && seen.nextClearBit(0) == n,
        s"writeKnn: rows must cover qids 0..n-1 exactly once; $rows rows hold $n " +
          s"distinct qids, first missing qid ${seen.nextClearBit(0)}")
      val raf = new RandomAccessFile(tmp, "rw")
      try raf.setLength(n.toLong * blockBytes) finally raf.close()
      Files.move(tmp.toPath, out.toPath, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp.toPath)
  }
}
