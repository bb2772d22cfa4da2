package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ArrayEqCount, BlockHamming, ExprBridge, GopherStats, Md5Hash60, SimHashBlocks, SimHashFromHashes, WordShingles}

/** Text-analysis building blocks for large-scale corpus pipelines:
  * tokenization, word shingles, deterministic 60-bit hashing, MinHash
  * signatures, SimHash fingerprints, quality ratios, language-ID scores.
  *
  * All hashing is md5-based so an external engine (the DuckDB oracle)
  * can reproduce every value bit-for-bit; everything is a per-row
  * Catalyst expression — no shuffles, no UDFs, codegen throughout.
  */
object TextFunctions {

  /** Whitespace tokens with empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), x => x =!= lit(""))

  /** Word n-gram shingles (space-joined); empty array when < n tokens.
    * Native one-pass kernel ([[WordShingles]]): the equivalent HOF
    * composition (`transform(sequence(1, size-n+1), i -> concat_ws(" ",
    * element_at(toks, i), ...))`) re-evaluates the token subtree per
    * element — Catalyst performs no CSE inside lambda bodies — which is
    * O(len²) per document when `toks` is an inline expression (measured
    * 11× slower on the gate corpus at n=1, and the giant generated
    * method also fell out of JIT compilation on some runs). Values are
    * identical; the DuckDB oracle mirrors are unchanged. */
  def shingles(toks: Column, n: Int): Column =
    ExprBridge.column(WordShingles(ExprBridge.expression(toks), n))

  /** Deterministic 60-bit hash: first 15 hex chars of md5("<seed>:<s>").
    * Cross-engine: DuckDB equivalent is
    * `CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS UBIGINT)::BIGINT`. */
  def hash60(s: Column, seed: Int): Column =
    ExprBridge.column(Md5Hash60(ExprBridge.expression(s), seed))

  /** Count of positions where two array<long>s agree (MinHash
    * signature-agreement kernel; see [[ArrayEqCount]]). */
  def arrayEqCount(a: Column, b: Column): Column =
    ExprBridge.column(ArrayEqCount(ExprBridge.expression(a), ExprBridge.expression(b)))

  /** Hashed-linear classifier inference (the fastText-style model-based
    * quality filter real pretraining pipelines run after rule-based
    * scoring): each token maps to a bounded feature index by the
    * hashing trick (`hash60 mod dim` — collisions are the model's own
    * semantics), the index looks up a weight, and the document score is
    * the mean token weight. Weights here are INTEGER millis derived
    * deterministically from the index (`hash60(idx) mod 2001 − 1000` ∈
    * [−1000, 1000]) so (a) the DuckDB oracle recomputes them inline —
    * no weight table to ship across engines — and (b) the document sum
    * is exact long arithmetic, order-independent, hash-gate safe where
    * a double dot product is not. At scale the md5-derived weight
    * stands in for a trained model's broadcast weight array; the
    * lookup SHAPE (token → bounded index → weight, one pass, no
    * shuffle) is the real one — swap `wm` for
    * `element_at(broadcastWeights, idx + 1)` to serve a real model.
    * Returns the raw milli-sum; callers divide by `1000 · n_tokens`
    * for the mean and threshold in integer space for exact keeps. */
  def classifierScoreMilli(toks: Column, dim: Int): Column =
    // native kernel: one codegen call per document with a precomputed
    // weight table, vs two interpreted HOF lambdas per TOKEN for the
    // equivalent `aggregate(toks, 0L, (acc, t) => acc +
    // (pmod(hash60(pmod(hash60(t, 131), dim).cast("string"), 137),
    // 2001) - 1000))` — value-identical (spec + DuckDB oracle pin it);
    // A/B in tools/KernelBench (tool deleted after 77313f2)
    ExprBridge.column(org.apache.spark.sql.graft.ClassifierMilliSum(
      ExprBridge.expression(toks), dim))

  /** [[classifierScoreMilli]] with a REAL trained model's integer
    * milli-weight table (the broadcast-weights serving shape its
    * scaladoc documents): weights ride the plan as a reference object
    * — one copy per executor, a broadcast variable's distribution —
    * and scoring stays one codegen pass, one md5 + one array read per
    * token. Train with [[graft.operators.QualityClassifier]]. */
  def classifierScoreMilliTrained(toks: Column, weights: Array[Long]): Column =
    ExprBridge.column(org.apache.spark.sql.graft.ClassifierMilliSumWeights(
      ExprBridge.expression(toks), weights.toIndexedSeq))

  /** All per-document Gopher-rule statistics in one codegen byte-scan —
    * 9-slot array<long>; see
    * [[org.apache.spark.sql.graft.GopherStatsUtil]] for the slot layout
    * and the per-slot SQL equivalences. */
  def gopherStats(text: Column): Column =
    ExprBridge.column(GopherStats(ExprBridge.expression(text)))

  /** SimHash over a precomputed array<long> of token hashes (use
    * [[hash60]] with seed 97): for each bit, sign of Σ(±1); packs `bits`
    * bits little-endian into a long. */
  def simhashFromHashes(hashes: Column, bits: Int = 48): Column =
    ExprBridge.column(SimHashFromHashes(ExprBridge.expression(hashes), bits))

  /** Wide (> 64-bit) SimHash as block values — `blocks` longs, element c
    * holding fingerprint bits [c·width, (c+1)·width). For bits ≤ 60 the
    * concatenated blocks equal [[simhashFromHashes]] exactly; wider
    * fingerprints derive extra per-token words via splitmix64 without
    * re-hashing the text (see [[SimHashBlocks]]). */
  def simhashBlocks(hashes: Column, bits: Int, blocks: Int): Column =
    ExprBridge.column(SimHashBlocks(ExprBridge.expression(hashes), bits, blocks))

  /** Hamming distance between two block-value fingerprints. */
  def blockHamming(a: Column, b: Column): Column =
    ExprBridge.column(BlockHamming(ExprBridge.expression(a), ExprBridge.expression(b)))

  /** Ratio of tokens found in `words`. */
  def tokenSetRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => array_contains(array(words.map(lit): _*), x))) /
      size(toks).cast("double")

  /** Type-token ratio (lexical diversity). */
  def typeTokenRatio(toks: Column): Column =
    size(array_distinct(toks)) / size(toks).cast("double")

  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  // ---- PII redaction. Patterns stay inside the RE2 ∩ java.util.regex
  // common subset (char classes, bounded repeats, \b) so the DuckDB
  // oracle can run the identical pattern text.
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Redact e-mails, then IPv4 addresses, then phone numbers with typed
    * placeholder tags. Order matters (earlier passes consume their
    * digits) and is mirrored by the oracle. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<email>"),
        Ipv4Re, "<ip>"),
      PhoneRe, "<phone>")

  // ---- JVM-side twins of the SQL tokenization (used inside typed
  // flatMap/map where composed HOF expressions would re-evaluate
  // `split(text)` per lambda call — Catalyst does no CSE inside lambdas).

  /** Mirror of `filter(split(text, ' '), x -> x != '')`. */
  def tokenizeJvm(text: String): Array[String] =
    text.split(" ", -1).filter(_.nonEmpty)

  /** Mirror of [[shingles]]: space-joined word n-grams. */
  def shinglesJvm(toks: Array[String], n: Int): Array[String] =
    if (toks.length < n) Array.empty
    else toks.sliding(n).map(_.mkString(" ")).toArray

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private def md5Bytes(s: String): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def md5Hex(s: String): String = {
    val d = md5Bytes(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 60-bit md5 hash (JVM twin of [[hash60]]'s arithmetic, without the
    * seed prefix): numeric value of the first 15 hex chars. DuckDB:
    * `CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT)::BIGINT`. */
  def hash60Jvm(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** 28-bit content hash: numeric value of the first 7 hex chars of md5
    * (read straight off the digest bytes) — cheap enough to compute once
    * per shingle/k-gram; cross-engine (DuckDB:
    * `CAST(('0x' || substr(md5(s),1,7)) AS UBIGINT)::BIGINT`). */
  def hash28Jvm(s: String): Long = {
    val d = md5Bytes(s)
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xff) << 12) |
      ((d(2) & 0xff) << 4) | ((d(3) & 0xff) >>> 4)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * character k-gram, slide a window of w hashes, keep each window's
    * minimum; the distinct minima are the document's fingerprint set —
    * robust to local edits, the standard rolling-hash fingerprint for
    * near-dup detection at corpus scale. Mirrored by the DuckDB oracle
    * (substr is 1-based there; offsets here match exactly). */
  def winnowJvm(text: String, k: Int, w: Int): Array[Long] = {
    if (text.length < k) return Array.empty
    val hs = Array.tabulate(text.length - k + 1)(i => hash28Jvm(text.substring(i, i + k)))
    if (hs.length < w) return Array.empty
    val out = new Array[Long](hs.length - w + 1)
    var i = 0
    while (i < out.length) {
      var m = Long.MaxValue
      var j = i
      while (j < i + w) { if (hs(j) < m) m = hs(j); j += 1 }
      out(i) = m
      i += 1
    }
    out.distinct
  }

  /** Universal-hash family over [[hash28Jvm]]: h_j(x) = (A_j·x + B_j) mod P.
    * One md5 per shingle + numHashes integer mixes (vs. numHashes md5s).
    * Constants are deterministic and mirrored into the DuckDB oracle. */
  val MinhashP: Long = 2038074743L
  def minhashA(j: Int): Long = (1000003L * (j + 1)) % MinhashP
  def minhashB(j: Int): Long = (777767777L * (j + 7)) % MinhashP

  /** Marker-word language scoring table used by the langid heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small"),
    "es" -> Seq("el", "la", "de", "los", "datos"),
    "de" -> Seq("der", "die", "das", "und", "daten"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("shuju", "biao", "hang", "lie", "suoyin"))
}
