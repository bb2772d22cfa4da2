package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hash kernels for the dedup fingerprint path.
  *
  * The original compositions — `conv(substring(md5(..), 1, 15), 16, 10)`
  * per token and a per-bit `aggregate` lambda over the token-hash array —
  * are value-correct but run in Catalyst's interpreted higher-order-
  * function evaluator: fingerprinting 10M docs spent ~30 min in
  * `ArrayTransform.nullSafeEval` / `NumberConverter.convert` (measured
  * via thread-stack sampling at the 10M dedup probe). These expressions
  * compute the SAME values (the DuckDB oracle mirrors are unchanged) in
  * tight JVM loops reachable from whole-stage codegen.
  */
object TextHashUtil {
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Numeric value of the first 15 hex chars of md5("<seed>:<s>") — the
    * top 60 bits of the digest, read straight off the bytes. Identical
    * to `conv(substring(md5(concat('<seed>:', s) :: binary), 1, 15), 16,
    * 10) :: long` and to the DuckDB mirror
    * `CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS UBIGINT)`. */
  def hash60(s: UTF8String, seedPrefix: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(seedPrefix)
    md.update(s.getBytes)
    val d = md.digest()
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** Per-bit majority over an array of hash words: bit b of the result
    * is set iff Σ_h ((h>>b & 1)·2 − 1) > 0 — i.e. strictly more ones
    * than zeros among the hashes. Identical to the SQL
    * `aggregate(transform(sequence(0, bits-1), b -> ...), ...)` form. */
  def simhash(hashes: ArrayData, bits: Int): Long = {
    // simhash_from_hashes is SQL-registered with arbitrary user args:
    // bits > 60 would read past the 60-bit hash words (always-zero
    // bits 61..63) and `1L << 64` wraps to bit 0, silently corrupting
    // the fingerprint — same guard class as simhashBlocks
    require(bits > 0 && bits <= 60,
      s"simhash: bits ($bits) must be in 1..60 (hash words carry 60 bits)")
    val n = hashes.numElements()
    val cnt = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < bits) {
        cnt(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (2 * cnt(b) - n > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** splitmix64 finalizer — derives the extra per-token hash words a
    * > 60-bit fingerprint needs from the one stored 60-bit hash. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Wide SimHash as BLOCK VALUES: the bits-wide per-bit-majority
    * fingerprint, returned as `blocks` longs where element c holds
    * fingerprint bits [c·width, (c+1)·width), width = bits/blocks,
    * little-endian within the block.
    *
    * Fingerprint bit b is the majority of bit (b mod 60) of token word
    * ⌊b/60⌋, where word 0 is the stored 60-bit token hash itself and
    * word w > 0 is mix64(hash + w) — so for bits ≤ 60 the concatenated
    * blocks are EXACTLY [[simhash]]'s fingerprint (spec-asserted), and
    * wider fingerprints extend it without re-hashing the text.
    *
    * The block-value representation is what the banded near-dup join
    * consumes: band keys are subsets of elements (no shifting), and
    * Hamming distance is Σ bitCount(a(i) ^ b(i)) ([[blockHamming]]). */
  def simhashBlocks(hashes: ArrayData, bits: Int, blocks: Int): ArrayData = {
    // simhash_blocks is SQL-registered with arbitrary user args: a
    // non-dividing blocks would AIOOBE on the output array and a block
    // width > 64 would silently wrap the shift into corrupt
    // fingerprints — fail loudly instead (two int checks per row)
    require(blocks > 0 && bits > 0 && bits % blocks == 0,
      s"simhash_blocks: blocks ($blocks) must divide bits ($bits)")
    require(bits / blocks <= 64,
      s"simhash_blocks: block width ${bits / blocks} exceeds 64 bits — raise blocks")
    val n = hashes.numElements()
    val cnt = new Array[Int](bits)
    val nWords = (bits + 59) / 60
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var w = 0
      while (w < nWords) {
        val word = if (w == 0) h else mix64(h + w)
        val base = w * 60
        val hi = math.min(base + 60, bits)
        var b = base
        while (b < hi) {
          cnt(b) += ((word >>> (b - base)) & 1L).toInt
          b += 1
        }
        w += 1
      }
      i += 1
    }
    val width = bits / blocks
    val out = new Array[Long](blocks)
    var b = 0
    while (b < bits) {
      if (2 * cnt(b) - n > 0) out(b / width) |= 1L << (b % width)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Hashed-linear classifier milli-weight sum over a token array:
    * per token, feature index = hash60(token, seed 131) mod dim, then
    * the caller-precomputed `weights(index)` (the broadcast-weights
    * serving shape — for the oracle-replayable model the table itself
    * is derived from the index, see [[ClassifierMilliSum]]). Exact
    * long arithmetic; value-identical to the HOF composition
    * `aggregate(toks, 0L, (acc, t) -> acc + weight(idx(t)))`, without
    * the per-token interpreted lambda evals. */
  def classifierMilliSum(toks: ArrayData, dim: Long,
      seedTok: Array[Byte], weights: Array[Long]): java.lang.Long = {
    val n = toks.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      // a null element nulls the whole sum — the HOF twin's semantics
      // (acc + NULL = NULL); skipping it instead would silently score
      // a different document than the oracle does
      if (toks.isNullAt(i)) return null
      val idx = java.lang.Math.floorMod(
        hash60(toks.getUTF8String(i), seedTok), dim).toInt
      sum += weights(idx)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }

  /** Hamming distance between two equal-length block-value arrays. */
  def blockHamming(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var d = 0L
    var i = 0
    while (i < n) {
      d += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    d
  }
}

/** Count of positions where two `ARRAY<BIGINT>`s hold equal values
  * (over the shorter length) — the MinHash signature-agreement kernel.
  * Value-identical to `aggregate(zip_with(a, b, (x, y) -> if(x = y, 1,
  * 0)), 0, (acc, x) -> acc + x)` for equal-length null-free arrays (the
  * only shape the miner produces), without the per-pair interpreted
  * lambda evals. */
case class ArrayEqCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "array_eq_count"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayEqCount =
    copy(left = newLeft, right = newRight)
}

/** Hashed-linear classifier inference kernel (see
  * [[TextHashUtil.classifierMilliSum]]): one codegen call per document
  * instead of two interpreted HOF lambdas per TOKEN. The integer
  * milli-weight table is precomputed once per expression instance from
  * the feature index (`hash60(idx, 137) mod 2001 − 1000` — the
  * oracle-replayable stand-in for a trained model's weights; dim md5
  * calls at plan time, then one md5 + one array read per token at row
  * time, exactly the broadcast-weights serving shape). Value-identical
  * to the HOF composition in
  * [[graft.functions.TextFunctions.classifierScoreMilli]]'s scaladoc;
  * the A/B lived in `tools/ClassifierBench`, tool deleted after 77313f2 (1.8× at 2M docs with both arms warmed — md5 dominates both; the removed cost is the per-token lambda machinery). */
case class ClassifierMilliSum(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "classifier_milli_sum"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // nullable beyond the child: a null ELEMENT nulls the sum (the HOF
  // twin's acc + NULL = NULL semantics)
  override def nullable: Boolean = true
  require(dim > 0 && dim <= (1 << 22),
    s"classifier_milli_sum: dim ($dim) must be in 1..2^22 (the weight " +
      "table is driver/plan-resident)")

  @transient private lazy val seedTok: Array[Byte] = "131:".getBytes("UTF-8")
  @transient private lazy val weights: Array[Long] = {
    val seedW = "137:".getBytes("UTF-8")
    Array.tabulate(dim)(i => java.lang.Math.floorMod(
      TextHashUtil.hash60(UTF8String.fromString(i.toString), seedW), 2001L) - 1000L)
  }

  override def nullSafeEval(toks: Any): Any =
    TextHashUtil.classifierMilliSum(
      toks.asInstanceOf[ArrayData], dim.toLong, seedTok, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("seedTok", seedTok, "byte[]")
    val w = ctx.addReferenceObj("weights", weights, "long[]")
    nullSafeCodeGen(ctx, ev, toks => {
      val r = ctx.freshName("milli")
      s"""
         |java.lang.Long $r = org.apache.spark.sql.graft.TextHashUtil
         |  .classifierMilliSum($toks, ${dim}L, $st, $w);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifierMilliSum =
    copy(child = newChild)
}

/** [[ClassifierMilliSum]] with a CALLER-SUPPLIED integer milli-weight
  * table — the broadcast-weights serving shape for a REAL trained
  * model (the shape ClassifierMilliSum's scaladoc documents): the
  * weight array rides the serialized plan as a reference object (one
  * copy per executor, exactly a broadcast variable's distribution for
  * a plan-resident table), and row time is one md5 + one array read
  * per token — identical to the hash-derived twin, so the A/B in
  * `tools/ClassifierBench` (tool deleted after 77313f2) measured the
  * serving-cost question directly. Same null semantics, same kernel
  * ([[TextHashUtil.classifierMilliSum]]). `dim` = weights.length. */
case class ClassifierMilliSumWeights(child: Expression, weights: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "classifier_milli_sum_weights"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  require(weights.nonEmpty && weights.length <= (1 << 22),
    s"classifier_milli_sum_weights: dim (${weights.length}) must be in " +
      "1..2^22 (the weight table is driver/plan-resident)")

  @transient private lazy val seedTok: Array[Byte] = "131:".getBytes("UTF-8")
  @transient private lazy val wArr: Array[Long] = weights.toArray

  override def nullSafeEval(toks: Any): Any =
    TextHashUtil.classifierMilliSum(
      toks.asInstanceOf[ArrayData], weights.length.toLong, seedTok, wArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("seedTok", seedTok, "byte[]")
    val w = ctx.addReferenceObj("weights", wArr, "long[]")
    nullSafeCodeGen(ctx, ev, toks => {
      val r = ctx.freshName("milli")
      s"""
         |java.lang.Long $r = org.apache.spark.sql.graft.TextHashUtil
         |  .classifierMilliSum($toks, ${weights.length}L, $st, $w);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifierMilliSumWeights =
    copy(child = newChild)
}

/** 60-bit seeded md5 hash of a string (see [[TextHashUtil.hash60]]). */
case class Md5Hash60(child: Expression, seed: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "md5_hash60"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val seedPrefix: Array[Byte] =
    (seed.toString + ":").getBytes("UTF-8")

  override def nullSafeEval(s: Any): Any =
    TextHashUtil.hash60(s.asInstanceOf[UTF8String], seedPrefix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prefix = ctx.addReferenceObj("seedPrefix", seedPrefix, "byte[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashUtil.hash60($s, $prefix);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

/** SimHash from a precomputed `ARRAY<BIGINT>` of token hashes (see
  * [[TextHashUtil.simhash]]). */
case class SimHashFromHashes(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "simhash_from_hashes"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(hs: Any): Any =
    TextHashUtil.simhash(hs.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashUtil.simhash($hs, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashFromHashes =
    copy(child = newChild)
}

/** Wide SimHash block values from a precomputed `ARRAY<BIGINT>` of token
  * hashes (see [[TextHashUtil.simhashBlocks]]). */
case class SimHashBlocks(child: Expression, bits: Int, blocks: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "simhash_blocks"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(hs: Any): Any =
    TextHashUtil.simhashBlocks(hs.asInstanceOf[ArrayData], bits, blocks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashUtil.simhashBlocks($hs, $bits, $blocks);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBlocks =
    copy(child = newChild)
}

/** Hamming distance between two equal-length block-value fingerprints
  * (see [[TextHashUtil.blockHamming]]). */
case class BlockHamming(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "block_hamming"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashUtil.blockHamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.TextHashUtil.blockHamming($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockHamming =
    copy(left = newLeft, right = newRight)
}
