package graft.sources

import java.io.FileInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for the contest's little-endian binary formats — the
  * one row decoder of the repo; [[ContestBinaryIO.readBase]]/`readQueries`
  * are this source with `kind`, `dim` and `partitions` set (reference
  * io.h:40-62 ReadBin, utils.h:257-276/491-548):
  *
  *   spark.read.format("contest-bin")
  *     .option("kind", "base" | "query").option("dim", 100).load(path)
  *
  *   - **Column pruning at the scan.** The reference splits every base
  *     row into a metadata view and a vector view up front (utils.h:85,
  *     102-108 — F4); here Catalyst's pruned ReadSchema reaches the
  *     reader, and a meta-only scan (`select(label, ts)`) never
  *     materializes the dim-float array at all — no per-row float[]
  *     alloc, no array encode, for scans that at 10M rows would
  *     otherwise build 4 GB of vectors to throw away.
  *   - **Declared partitioning.** Row-range [[InputPartition]]s planned
  *     by the engine (one contiguous byte range each, same layout a
  *     1000-executor cluster would get as part-object ranges on shared
  *     storage).
  *
  * Row ids are file ordinals, assigned arithmetically from the range
  * start — no shuffle, no zipWithIndex. A file that holds fewer rows
  * than its header declares fails the scan with "short read"; it never
  * yields fewer rows.
  */
class ContestBinarySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "contest-bin"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ContestBinarySource.schemaFor(options.getOrDefault("kind", "base"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ContestBinaryTable(new CaseInsensitiveStringMap(properties))
}

object ContestBinarySource {
  def schemaFor(kind: String): StructType = kind match {
    case "base" => StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("label", LongType, nullable = false),
      StructField("ts", DoubleType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    case "query" => StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("qtype", IntegerType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("l", DoubleType, nullable = false),
      StructField("r", DoubleType, nullable = false),
      StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false)))
    case other => throw new IllegalArgumentException(
      s"contest-bin kind must be base|query, got '$other'")
  }

  /** Meta floats preceding the vector: base rows carry (label, ts),
    * query rows (type, v, l, r). */
  def metaFloats(kind: String): Int = if (kind == "base") 2 else 4

  def readHeader(path: String): Long = {
    val in = new FileInputStream(path)
    try {
      val b = new Array[Byte](4)
      require(in.read(b) == 4, s"short read on $path")
      // uint32 — read as unsigned so N > Int.MaxValue doesn't wrap
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xffffffffL
    } finally in.close()
  }
}

class ContestBinaryTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("contest-bin requires a path"))
  private val kind = options.getOrDefault("kind", "base")
  private val dim = options.getOrDefault("dim", "100").toInt
  private val parts = options.getOrDefault("partitions", "32").toInt

  override def name(): String = s"contest-bin:$kind:$path"
  override def schema(): StructType = ContestBinarySource.schemaFor(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ContestBinaryScanBuilder(path, kind, dim, parts)
}

class ContestBinaryScanBuilder(path: String, kind: String, dim: Int, parts: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ContestBinarySource.schemaFor(kind)
  override def pruneColumns(s: StructType): Unit = required = s
  override def build(): Scan = new ContestBinaryScan(path, kind, dim, parts, required)
}

/** One contiguous row range of the flat file. */
case class ContestRowRange(start: Long, end: Long) extends InputPartition

class ContestBinaryScan(path: String, kind: String, dim: Int, parts: Int,
                        required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"contest-bin $kind dim=$dim ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val n = ContestBinarySource.readHeader(path)
    val p = math.max(1, math.min(parts.toLong, n).toInt)
    Array.tabulate(p) { i =>
      ContestRowRange(n * i / p, n * (i + 1) / p)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContestBinaryReaderFactory(path, kind, dim, required)
}

class ContestBinaryReaderFactory(path: String, kind: String, dim: Int,
                                 required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[ContestRowRange]
    new ContestBinaryReader(path, kind, dim, required, r.start, r.end)
  }
}

/** Streams one row range; emits only the pruned columns. The file bytes
  * of unprojected fields are still streamed past (seeking every row
  * would defeat readahead) — the pruning win is per-row work: no
  * float[] allocation and no array encode when `vec` is not required. */
class ContestBinaryReader(path: String, kind: String, dim: Int,
                          required: StructType, start: Long, end: Long)
    extends PartitionReader[InternalRow] {

  private val meta = ContestBinarySource.metaFloats(kind)
  private val rowBytes = (meta + dim) * 4
  private val idName = if (kind == "base") "id" else "qid"
  private val vecName = if (kind == "base") "vec" else "qvec"
  // required-field extraction plan, computed once per reader
  private val wantVec = required.fieldNames.contains(vecName)
  private val fieldIdx: Array[Int] = required.fieldNames.map {
    case n if n == idName => -1 // ordinal id, not in the file bytes
    case n if n == vecName => meta // vector starts after the meta floats
    case n =>
      val metaNames =
        if (kind == "base") Array("label", "ts") else Array("qtype", "v", "l", "r")
      metaNames.indexOf(n)
  }

  private val in = new java.io.BufferedInputStream(new FileInputStream(path), 1 << 20)
  locally {
    var skipped = 0L
    val target = 4L + start * rowBytes
    while (skipped < target) {
      val s = in.skip(target - skipped)
      require(s > 0, s"skip stalled at $skipped/$target on $path")
      skipped += s
    }
  }

  private val buf = new Array[Byte](rowBytes)
  private val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
  private var rowId = start
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rowId >= end) return false
    var off = 0
    while (off < rowBytes) {
      val r = in.read(buf, off, rowBytes - off)
      require(r > 0, s"short read at row $rowId of $path")
      off += r
    }
    val out = new GenericInternalRow(required.length)
    var i = 0
    while (i < fieldIdx.length) {
      val src = fieldIdx(i)
      if (src == -1) out.setLong(i, rowId)
      else if (src == meta && wantVec && required.fields(i).name == vecName) {
        val v = new Array[Float](dim)
        var j = 0
        while (j < dim) { v(j) = bb.getFloat(4 * (meta + j)); j += 1 }
        out.update(i, UnsafeArrayData.fromPrimitiveArray(v))
      } else {
        val f = bb.getFloat(4 * src)
        required.fields(i).dataType match {
          case LongType => out.setLong(i, f.toLong)
          case IntegerType => out.setInt(i, f.toInt)
          case DoubleType => out.setDouble(i, f.toDouble)
          case dt => throw new IllegalStateException(s"unexpected type $dt")
        }
      }
      i += 1
    }
    current = out
    rowId += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
