package graft.index

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{AnnJoin, KnnJoin}
import org.apache.spark.sql.functions._

class AnnIndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(53)
  private val dim = 12
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())

  test("HnswIndex serialization round-trips search results exactly") {
    val data = Array.fill(600)(vec())
    val idx = new HnswIndex(dim, 16, 200)
    data.foreach(idx.add)
    val restored = HnswIndex.fromBytes(idx.toBytes)
    val q = vec()
    assert(restored.search(q, 10, 128).toSeq == idx.search(q, 10, 128).toSeq)
    assert(restored.size == idx.size)
  }

  test("build-once search-twice: persisted index table answers with high recall") {
    val base = Seq.tabulate(1500)(i => (i.toLong, vec())).toDF("id", "vec")
    val queries = Seq.tabulate(10)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val dir = Files.createTempDirectory("graft-annstore").toString + "/index"
    AnnIndexStore.build(base, dir, numBuckets = 3)
    val r1 = AnnIndexStore.search(spark, dir, queries, k = 10, ef = 128)
    val r2 = AnnIndexStore.search(spark, dir, queries, k = 10, ef = 128)
    val s1 = r1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val s2 = r2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(s1 == s2) // deterministic reuse
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
    val recall = AnnJoin.recallAtK(r1, exact)
    assert(recall >= 0.9, s"recall $recall")
    // ef tuning against the REAL stored sub-index (largest bucket):
    // deterministic, monotone-measured, passes its target on this corpus
    val qs = Seq.tabulate(25)(_ => vec()).toArray
    val t1 = EfTuner.tuneStored(spark, dir, qs, k = 10, targetRecall = 0.9,
      ladder = Seq(16, 48, 128, 256))
    val t2 = EfTuner.tuneStored(spark, dir, qs, k = 10, targetRecall = 0.9,
      ladder = Seq(16, 48, 128, 256))
    assert(t1 == t2)
    assert(t1.rungs.find(_.ef == t1.chosenEf).exists(_.recall >= 0.9) ||
      t1.chosenEf == 256)
  }

  test("delta append: exact-recall serving of un-indexed rows; compaction folds and clears") {
    val all = Seq.tabulate(900)(i => (i.toLong, vec()))
    val (indexed, delta) = all.partition(_._1 % 5 != 0)
    val queries = Seq.tabulate(8)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val dir = Files.createTempDirectory("graft-anndelta").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 3)
    AnnIndexStore.appendDelta(delta.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 0.25) < 0.01)
    // searchWithDelta must see delta rows at recall 1.0: ground truth
    // over the FULL set, checked against a generous walk
    val got = AnnIndexStore.searchWithDelta(spark, dir, queries, k = 10, ef = 600)
    val exact = KnnJoin.exactFlat(
      all.toDF("id", "vec").withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
    val recall = AnnJoin.recallAtK(got, exact)
    assert(recall >= 0.95, s"recall with delta $recall")
    // every delta id that exact kNN surfaces must be served (delta side
    // is brute force — it cannot miss)
    val exactDelta = exact.filter(col("nid") % 5 === 0)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactDelta.subsetOf(gotPairs),
      s"missing delta results: ${exactDelta.diff(gotPairs)}")
    // compaction: same result set from plain search; delta cleared
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 3)
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    val afterCompact = AnnIndexStore.search(spark, dir, queries, k = 10, ef = 600)
    assert(AnnJoin.recallAtK(afterCompact, exact) >= 0.95)
    // compacted store indexes the full id set (vectors were recovered
    // from the stored graphs, not the original base); the fold landed
    // as a manifest-named generation inside the root
    assert(AnnIndexStore.resolveStore(dir) != dir,
      "a compaction must flip the store to the generation layout")
    val nIndexed = spark.read.parquet(AnnIndexStore.resolveStore(dir))
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(nIndexed == 900L)
  }

  test("compaction crash window: an already-folded delta is never served or folded twice") {
    val all = Seq.tabulate(400)(i => (i.toLong, vec()))
    val (indexed, delta) = all.partition(_._1 % 4 != 0)
    val dir = Files.createTempDirectory("graft-anndelta-crash").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    AnnIndexStore.appendDelta(delta.toDF("id", "vec"), dir)
    // snapshot the delta tree attribute-preserving (fingerprint = name,
    // len, mtime), so we can reconstruct the exact crash-window state
    // (recursive: appendDelta lands in its own bid= dir)
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    val deltaDir = java.nio.file.Paths.get(AnnIndexStore.deltaPath(dir))
    val saved = Files.createTempDirectory("graft-delta-save")
    copyTree(deltaDir, saved)
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    // simulate a crash between store promote and delta delete: the new
    // graphs already CONTAIN the delta rows, and the same delta is back
    copyTree(saved, deltaDir)
    // the folded marker must classify it dead: fraction 0, and serving
    // must not emit duplicate (qid, nid) pairs from graph+delta
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    val queries = Seq.tabulate(6)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val got = AnnIndexStore.searchWithDelta(spark, dir, queries, k = 10, ef = 400)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "duplicate (qid, nid) served")
    // read paths EXCLUDE but never delete (two readers can't race a
    // delete against a scan): the stale batch dir is still on disk
    assert(new java.io.File(AnnIndexStore.deltaPath(dir),
      "eid=_batch/bid=0/_SUCCESS").exists())
    // the next MAINTENANCE op repairs first, so new rows never blend
    // into the stale folded generation (whose fingerprint they'd change,
    // defeating the marker comparison forever)
    val fresh = Seq.tabulate(10)(i => ((5000 + i).toLong, vec()))
    AnnIndexStore.appendDelta(fresh.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 10.0 / 400) < 1e-9,
      "append onto a stale folded delta must repair (delete) it first")
    // a GENUINELY new delta (same rows, new commit) is live again
    AnnIndexStore.replaceDelta(delta.toDF("id", "vec"), dir)
    assert(AnnIndexStore.deltaFraction(spark, dir) > 0.0)
  }

  test("appendDeltaBatch: replays overwrite, folded batches are skipped") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-bid").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    val a = Seq.tabulate(20)(i => ((1000 + i).toLong, vec()))
    val b = Seq.tabulate(30)(i => ((2000 + i).toLong, vec()))
    // at-least-once replay of the same micro-batch: rows counted ONCE
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0)
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 20.0 / 200) < 1e-9)
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1)
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    // replay of a batch the compaction already folded (crash straddled
    // the fold): must be skipped outright, not served twice
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1)
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    // a NEW batch past the watermark is live
    val c = Seq.tabulate(10)(i => ((3000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(c.toDF("id", "vec"), dir, batchId = 2)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 10.0 / 250) < 1e-9)
    val queries = Seq.tabulate(4)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val got = AnnIndexStore.searchWithDelta(spark, dir, queries, k = 10, ef = 400)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 40 && got.distinct.length == 40)
  }

  test("fold watermark survives a bid-less compaction; fresh-checkpoint restart fails loudly") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-wm").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    val a = Seq.tabulate(20)(i => ((1000 + i).toLong, vec()))
    val b = Seq.tabulate(30)(i => ((2000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0)
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1)
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2) // folds bids 0-1
    // a compaction that sees NO live bids must not regress the
    // watermark: without the carry-forward, this rewrites maxbid=-1 and
    // the replay below re-appends rows the graphs already contain
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1)
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0,
      "replay of the folded watermark batch must still be skipped after an empty compaction")
    // batchId STRICTLY below the watermark = a stream restarted from a
    // fresh checkpoint (ids restart at 0): silent skip would drop the
    // new rows, silent append would write rows liveness classifies
    // dead — must fail loudly instead
    val ex = intercept[IllegalStateException] {
      AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0)
    }
    assert(ex.getMessage.contains("fresh checkpoint"))
  }

  test("a new stream epoch resets the fold watermark; same-epoch replays still skip") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-epoch").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    val a = Seq.tabulate(20)(i => ((1000 + i).toLong, vec()))
    // stream 1 (epoch ckpt1) delivers ONLY batch 0, which gets folded:
    // watermark 0 — the nastiest case, where a plain `<= maxBid` skip
    // cannot tell a fresh stream's batch 0 from a replay
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckpt1"))
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    // same-epoch replay of the folded watermark batch: skipped
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckpt1"))
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    // stream 2 (fresh checkpoint = new epoch): its batch 0 carries NEW
    // rows and must be LIVE, not skipped or classified dead
    val b = Seq.tabulate(30)(i => ((2000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckpt2"))
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 30.0 / 220) < 1e-9,
      "a new epoch's restarted batch 0 must be live")
    // the new epoch's own fold then watermarks ITS batch ids
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((3000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 1, epoch = Some("ckpt2"))
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    val nIndexed = spark.read.parquet(AnnIndexStore.resolveStore(dir))
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(nIndexed == 260L, s"220 + stream2's 40 expected, got $nIndexed")
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1,
      epoch = Some("ckpt2"))
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0,
      "ckpt2's folded watermark batch must skip on replay")
  }

  test("epoch switch preserves the old stream's un-folded batches without relocating them") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-demote").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    // old stream, NEVER compacted (no fold marker): bids 0-1 in its own
    // eid= subtree
    val a = Seq.tabulate(20)(i => ((1000 + i).toLong, vec()))
    val b = Seq.tabulate(30)(i => ((2000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(a.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckptA"))
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1,
      epoch = Some("ckptA"))
    // new stream's batch 0 carries NEW rows: the old bid=0 is
    // checkpoint-acknowledged data stream A will never resend — the new
    // epoch writes BESIDE it (its own subtree), no overwrite, no move
    val c = Seq.tabulate(10)(i => ((3000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(c.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckptB"))
    // nothing relocated: stream A's batch dirs are exactly where its
    // writer committed them (the old layout moved their part files to
    // the flat root — a window where a racing read saw a partial delta)
    val deltaRoot = new java.io.File(AnnIndexStore.deltaPath(dir))
    assert(new java.io.File(deltaRoot, "eid=ckptA/bid=0/_SUCCESS").exists() &&
      new java.io.File(deltaRoot, "eid=ckptA/bid=1/_SUCCESS").exists() &&
      new java.io.File(deltaRoot, "eid=ckptB/bid=0/_SUCCESS").exists(),
      "each epoch must keep its own committed batch dirs in place")
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 60.0 / 200) < 1e-9,
      "old-epoch bids and the new batch must ALL be live")
    val queries = Seq.tabulate(4)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val nids = AnnIndexStore.searchWithDelta(spark, dir, queries, k = 80, ef = 400)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(nids.exists(n => n >= 1000 && n < 2000) &&
      nids.exists(n => n >= 2000 && n < 3000) && nids.exists(_ >= 3000))
    // a fold indexes every row exactly once
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    val nIndexed = spark.read.parquet(AnnIndexStore.resolveStore(dir))
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(nIndexed == 260L, s"260 distinct rows expected, got $nIndexed")
    // the fold watermarked BOTH epochs' batches: replays skip
    AnnIndexStore.appendDeltaBatch(c.toDF("id", "vec"), dir, batchId = 0,
      epoch = Some("ckptB"))
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0)
    AnnIndexStore.appendDeltaBatch(b.toDF("id", "vec"), dir, batchId = 1,
      epoch = Some("ckptA"))
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0,
      "the RETIRED epoch's watermark must outlive the fold (moved-checkpoint late replay)")
  }

  test("epochs that sanitize to the same characters get distinct eid subtrees") {
    // the checkpointEpoch fallback is a filesystem PATH; '/a/b' and
    // '/a_b' both character-replace to '_a_b' — a lossy token would
    // merge the two streams into one subtree and one watermark,
    // silently skipping one stream's batches against the other's
    // high-water mark
    val indexed = Seq.tabulate(100)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-tok").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((1000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 0, epoch = Some("/a/b"))
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((2000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 0, epoch = Some("/a_b"))
    val eids = Option(
        new java.io.File(AnnIndexStore.deltaPath(dir)).listFiles())
      .map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("eid="))
      .map(_.getName)
    assert(eids.size == 2 && eids.distinct.size == 2,
      s"colliding sanitized epochs must keep distinct subtrees, got $eids")
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 20.0 / 100) < 1e-9,
      "both streams' batch-0 rows must be live")
    // fold, then replay EACH stream's batch 0: both must skip against
    // their OWN watermark entry
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((1000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 0, epoch = Some("/a/b"))
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((2000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 0, epoch = Some("/a_b"))
    assert(AnnIndexStore.deltaFraction(spark, dir) == 0.0,
      "each epoch's replay must skip against its own watermark")
  }

  test("replaceDelta preserves committed streaming micro-batches") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-repl").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    val streamRows = Seq.tabulate(30)(i => ((2000 + i).toLong, vec()))
    AnnIndexStore.appendDeltaBatch(streamRows.toDF("id", "vec"), dir, batchId = 0)
    // a build-script replace must swap the FLAT layout only: batch 0's
    // checkpoint has committed upstream, the stream will never replay
    // it — a whole-dir overwrite would silently lose those rows
    val flatRows = Seq.tabulate(20)(i => ((1000 + i).toLong, vec()))
    AnnIndexStore.replaceDelta(flatRows.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 50.0 / 200) < 1e-9,
      "flat replacement and the committed micro-batch must BOTH be live")
    // still idempotent for retrying writers: rerun replaces, not appends
    AnnIndexStore.replaceDelta(flatRows.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 50.0 / 200) < 1e-9)
    // both id ranges are served
    val queries = Seq.tabulate(4)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val nids = AnnIndexStore.searchWithDelta(spark, dir, queries, k = 60, ef = 400)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(nids.exists(_ >= 2000) && nids.exists(n => n >= 1000 && n < 2000))
  }

  test("replaceDelta sweeps appendDelta's script-owned _batch epoch (retry remedy)") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anndelta-batchswp").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    // the documented failure: a script appends, crashes AFTER the
    // commit, and reruns via replaceDelta (the scaladoc's prescribed
    // idempotent remedy) — the earlier committed _batch rows must not
    // stay live beside the replacement, or the store serves duplicates
    val rows = Seq.tabulate(25)(i => ((3000 + i).toLong, vec()))
    AnnIndexStore.appendDelta(rows.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 25.0 / 200) < 1e-9)
    AnnIndexStore.replaceDelta(rows.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 25.0 / 200) < 1e-9,
      "rerun-as-replace must not double the appended rows")
    // a REAL stream epoch beside it still survives the sweep
    AnnIndexStore.appendDeltaBatch(
      Seq.tabulate(10)(i => ((4000 + i).toLong, vec())).toDF("id", "vec"),
      dir, batchId = 0, epoch = Some("q1"))
    AnnIndexStore.replaceDelta(rows.toDF("id", "vec"), dir)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir) - 35.0 / 200) < 1e-9,
      "stream-epoch rows must survive a script replace")
  }

  test("legacy half-swapped compaction crash: maintenance entry rolls forward/back") {
    // the pre-generation layout swapped the store dir with two renames;
    // stores last compacted by that code can still be sitting in its
    // crash states — fabricate each and prove maintenance repairs them
    val indexed = Seq.tabulate(300)(i => (i.toLong, vec()))
    val delta = Seq.tabulate(60)(i => ((9000 + i).toLong, vec()))
    val dir = Files.createTempDirectory("graft-annswap").toString + "/index"
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    AnnIndexStore.appendDelta(delta.toDF("id", "vec"), dir)
    // ROLL BACK: crash left only '.old' (store moved aside, promote
    // never happened) — compactDelta must restore it and then compact
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    val n1 = spark.read.parquet(AnnIndexStore.resolveStore(dir))
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(n1 == 360L, s"roll-back then compact should index all rows, got $n1")
    // ROLL FORWARD: crash left a complete flat '.compact' and no live
    // store — the next maintenance op must promote it (it already
    // contains the folded rows) rather than fail on the missing path
    val dir2 = Files.createTempDirectory("graft-annswap2").toString + "/index"
    AnnIndexStore.build(
      (indexed ++ delta).toDF("id", "vec"), dir2 + ".compact", numBuckets = 2)
    AnnIndexStore.appendDelta(
      Seq.tabulate(5)(i => ((9900 + i).toLong, vec())).toDF("id", "vec"), dir2)
    val n2 = spark.read.parquet(AnnIndexStore.resolveStore(dir2))
      .agg(sum(size(col("ids")))).head().getLong(0)
    assert(n2 == 360L)
    assert(math.abs(AnnIndexStore.deltaFraction(spark, dir2) - 5.0 / 360) < 1e-9)
  }

  test("generation flip never leaves the store absent; stale generations GC at next maintenance") {
    val indexed = Seq.tabulate(200)(i => (i.toLong, vec()))
    val dir = Files.createTempDirectory("graft-anngen").toString + "/index"
    val root = new java.io.File(dir)
    AnnIndexStore.build(indexed.toDF("id", "vec"), dir, numBuckets = 2)
    assert(AnnIndexStore.resolveStore(dir) == dir, "fresh store is flat")
    val flatVer = AnnIndexStore.storeVersion(dir)
    def listGens() = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-")).map(_.getName)

    // first fold: flips to the generation layout; the flat layout's
    // files SURVIVE until the next maintenance entry, so a reader that
    // resolved pre-flip can finish its scan
    AnnIndexStore.appendDelta(
      Seq.tabulate(20)(i => ((1000 + i).toLong, vec())).toDF("id", "vec"), dir)
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    val gen1 = AnnIndexStore.resolveStore(dir)
    assert(gen1 != dir && listGens().size == 1)
    assert(new java.io.File(root, "_SUCCESS").exists(),
      "the superseded flat layout must survive the flip (readers may hold it)")
    assert(AnnIndexStore.storeVersion(dir) != flatVer,
      "the flip must change the served version")
    // a query against the resolved pre-flip dir still works (this is
    // exactly the racing reader the deferred GC protects)
    assert(spark.read.parquet(dir).count() > 0)

    // appends never GC: a streaming ingest appends every trigger
    // interval, and GC there would shrink the batch read paths' grace
    // window to seconds — stale data dies at the next COMPACTION entry
    AnnIndexStore.appendDelta(
      Seq.tabulate(10)(i => ((2000 + i).toLong, vec())).toDF("id", "vec"), dir)
    assert(new java.io.File(root, "_SUCCESS").exists(),
      "an append must NOT GC the superseded flat layout")
    assert(AnnIndexStore.resolveStore(dir) == gen1)

    // second fold: its ENTRY GCs the flat leftovers, then flips a NEW
    // generation; gen1 (now superseded) survives its own flip
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    val gen2 = AnnIndexStore.resolveStore(dir)
    assert(gen2 != gen1 && listGens().size == 2)
    assert(!new java.io.File(root, "_SUCCESS").exists(),
      "stale flat files must be GC'd at the next compaction entry")
    assert(new java.io.File(gen1).isDirectory,
      "the superseded generation must survive its own flip")
    AnnIndexStore.appendDelta(
      Seq.tabulate(5)(i => ((3000 + i).toLong, vec())).toDF("id", "vec"), dir)
    assert(new java.io.File(gen1).isDirectory,
      "an append must NOT GC the superseded generation")
    // third fold: entry GCs gen1; gen2 survives its own flip
    AnnIndexStore.compactDelta(spark, dir, numBuckets = 2)
    val gen3 = AnnIndexStore.resolveStore(dir)
    assert(!new java.io.File(gen1).exists(),
      "the superseded generation must be GC'd at the next compaction entry")
    assert(listGens().toSet == Set(gen2, gen3).map(new java.io.File(_).getName))
    // every row is served exactly once from the final layout
    val ids = spark.read.parquet(gen3)
      .select(explode(col("ids")).as("id")).collect().map(_.getLong(0))
    assert(ids.length == 235 && ids.distinct.length == 235)
  }

  test("buildBy/searchBy: per-label persisted indexes, predicate by construction") {
    val base = Seq.tabulate(1200)(i => (i.toLong, (i % 4).toLong, vec()))
      .toDF("id", "label", "vec")
    val queries = Seq.tabulate(8)(i => (i.toLong, (i % 4).toLong, vec()))
      .toDF("qid", "v", "qvec")
    val dir = Files.createTempDirectory("graft-annstore-by").toString + "/by_label"
    AnnIndexStore.buildBy(base, dir, "label")
    val res = AnnIndexStore.searchBy(spark, dir, queries, k = 10, ef = 200)
    // every neighbor belongs to the query's label bucket
    val joined = res.join(queries.select($"qid", $"v"), "qid")
      .join(base.select($"id".as("nid"), $"label"), "nid")
    assert(joined.filter($"label" =!= $"v").count() == 0)
    assert(res.groupBy("qid").count().collect().forall(_.getLong(1) == 10))
    // recall vs the exact per-label join
    val exact = KnnJoin.exactFlat(
      base.withColumn("ts", lit(0.0)),
      queries.withColumn("qtype", lit(1))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10, types = Seq(1))
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.9, s"recall $recall")
  }

  test("buildIvf/searchIvf: centroid-routed lists, high recall at nprobe << nlist") {
    // clustered corpus — the regime IVF routing is for (uniform-random
    // vectors have no list structure to route by)
    val centers = Array.fill(6)(vec())
    val cr = new scala.util.Random(97)
    def point(c: Int): Array[Float] =
      centers(c).map(x => x + 0.05f * cr.nextGaussian().toFloat)
    val base = Seq.tabulate(1800)(i => (i.toLong, point(i % 6))).toDF("id", "vec")
    val queries = Seq.tabulate(10)(i => (i.toLong, point(i % 6))).toDF("qid", "qvec")
    val dir = Files.createTempDirectory("graft-annstore-ivf").toString + "/ivf"
    AnnIndexStore.buildIvf(base, dir, nlist = 8)
    val res = AnnIndexStore.searchIvf(spark, dir, queries, k = 10, ef = 200, nprobe = 2)
    assert(res.groupBy("qid").count().collect().forall(_.getLong(1) == 10))
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)).withColumn("ts", lit(0.0)),
      queries.withColumn("qtype", lit(0)).withColumn("v", lit(0L))
        .withColumn("l", lit(0.0)).withColumn("r", lit(0.0)), 10)
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.9, s"recall $recall")
    // deterministic reuse of the persisted centroids + lists
    val res2 = AnnIndexStore.searchIvf(spark, dir, queries, k = 10, ef = 200, nprobe = 2)
    assert(res2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("buildIvfPqSeeded/searchIvfPq: stored route ≡ in-memory IVF-PQ; codes scan prunes to probed lists") {
    import graft.operators.SimilaritySearch
    // clustered corpus so routing has structure to exploit
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextFloat() * 8 - 4))
    val base = Seq.tabulate(1600) { i =>
      (i.toLong, centers(i % 16).map(x => x + rnd.nextFloat() * 0.4f))
    }.toDF("id", "vec")
    val queries = base.filter($"id" < 8)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val dir = Files.createTempDirectory("graft-ivfpq").toString + "/index"
    AnnIndexStore.buildIvfPqSeeded(base, dir, nlist = 12, m = 4, ksub = 16)
    // sidecars + partitioned codes on disk
    assert(new java.io.File(s"$dir/centroids").exists())
    assert(new java.io.File(s"$dir/codebook").exists())
    val listDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(listDirs.length == 12, s"expected 12 list partitions, got ${listDirs.length}")
    val stored = AnnIndexStore.searchIvfPq(spark, dir, base, queries,
      k = 10, nprobe = 4, refineK = 60)
    val mem = SimilaritySearch.ivfPqKnnSeeded(base, queries, k = 10,
      nlist = 12, nprobe = 4, m = 4, ksub = 16, refineK = 60)
    val sStored = stored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val sMem = mem.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(sStored.toSeq == sMem.toSeq,
      "stored IVF-PQ route must reproduce the in-memory operator exactly")
    // routing is a PLAN property: the codes scan carries a static
    // partition filter on the probed list set (nprobe << nlist)
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list"),
      s"codes scan should prune list partitions statically:\n$plan")
  }

  test("stored type-3 search: label AND range predicates hold, recall >= 0.85") {
    val base = Seq.tabulate(1500)(i => (i.toLong, (i % 4).toLong, (i % 30) / 30.0, vec()))
      .toDF("id", "label", "ts", "vec")
    val dir = Files.createTempDirectory("graft-annstore-t3").toString + "/by_label"
    AnnIndexStore.buildBy(base, dir, "label", attrCol = Some("ts"))
    val queries = Seq.tabulate(8)(i =>
      (i.toLong, (i % 4).toLong, (i % 2) / 10.0, (i % 2) / 10.0 + 0.5, vec()))
      .toDF("qid", "v", "l", "r", "qvec")
    val res = AnnIndexStore.searchByRange(spark, dir, queries, k = 10, ef = 256)
    val joined = res.join(queries.select($"qid", $"v", $"l", $"r"), "qid")
      .join(base.select($"id".as("nid"), $"label", $"ts"), "nid")
    assert(joined.filter($"label" =!= $"v" || $"ts" < $"l" || $"ts" > $"r").count() == 0)
    val exact = KnnJoin.exactFlat(base,
      queries.withColumn("qtype", lit(3)), 10, types = Seq(3))
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("banded type-3 arm (attrSalted store, efBands): predicates hold, recall >= 0.85") {
    // the serving-scale label+range arm: oversized labels split into
    // ts-CONTIGUOUS sub-chunks (not hash salt), range-missing chunks
    // skipped, full-cover chunks walk plain, SMALL slices exactOverQ
    val base = Seq.tabulate(2400)(i => (i.toLong, (i % 3).toLong, (i % 60) / 60.0, vec()))
      .toDF("id", "label", "ts", "vec")
    val dir = Files.createTempDirectory("graft-annstore-t3b").toString + "/by_label_ts"
    // maxRowsPerIndex = 300: every 800-row label spans 3 contiguous chunks
    AnnIndexStore.buildBy(base, dir, "label", attrCol = Some("ts"),
      maxRowsPerIndex = 300, attrSalted = true)
    // contiguity is a STORE property: per label, chunk [attr_min,
    // attr_max] intervals must not interleave (sorted by attr_min, each
    // chunk's min >= the previous chunk's max)
    val rows = spark.read.parquet(dir)
      .select($"bucket", $"sub", $"attr_min", $"attr_max").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.groupBy(_._1).forall(_._2.length == 3), "expected 3 chunks per label")
    rows.groupBy(_._1).foreach { case (_, chunks) =>
      val sorted = chunks.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._3 + 1e-12,
          s"chunks interleave: $a vs $b")
        case _ =>
      }
    }
    val queries = Seq(
      (0L, 0L, 0.0, 1.0, vec()),   // whole label: every chunk FULL -> plain walks
      (1L, 1L, 0.0, 0.3, vec()),   // first chunk only: others skipped
      (2L, 2L, 0.42, 0.47, vec()), // narrow slice -> exactOverQ
      (3L, 0L, 0.2, 0.8, vec()),   // partial chunks + full middle
      (4L, 1L, 0.96, 0.99, vec())  // tail slice
    ).toDF("qid", "v", "l", "r", "qvec")
    val res = AnnIndexStore.searchByRange(spark, dir, queries, k = 10, ef = 256,
      efBands = true)
    val joined = res.join(queries.select($"qid", $"v", $"l", $"r"), "qid")
      .join(base.select($"id".as("nid"), $"label", $"ts"), "nid")
    assert(joined.filter($"label" =!= $"v" || $"ts" < $"l" || $"ts" > $"r").count() == 0)
    val exact = KnnJoin.exactFlat(base,
      queries.withColumn("qtype", lit(3)), 10, types = Seq(3))
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("stored decile-range search: predicate holds, recall >= 0.85 vs exact") {
    val base = Seq.tabulate(1500)(i => (i.toLong, (i % 40) / 40.0, vec()))
      .toDF("id", "ts", "vec")
    val dir = Files.createTempDirectory("graft-annstore-dec").toString + "/by_decile"
    AnnIndexStore.buildBy(
      base.withColumn("decile", floor(col("ts") * 10).cast("long")),
      dir, "decile", attrCol = Some("ts"))
    val queries = Seq.tabulate(8)(i =>
      (i.toLong, (i % 3) / 10.0, (i % 3) / 10.0 + 0.35, vec()))
      .toDF("qid", "l", "r", "qvec")
    val res = AnnIndexStore.searchDecileRange(spark, dir, queries, k = 10, ef = 256)
    val joined = res.join(queries.select($"qid", $"l", $"r"), "qid")
      .join(base.select($"id".as("nid"), $"ts"), "nid")
    assert(joined.filter($"ts" < $"l" || $"ts" > $"r").count() == 0)
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)),
      queries.withColumn("qtype", lit(2)).withColumn("v", lit(0L)), 10, types = Seq(2))
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("fine-bucket range search (scale=20, efBands): predicate holds, recall >= 0.85") {
    // the serving-scale type-2 arm: ts-contiguous buckets at
    // data-sized granularity, banded full-walk ef, quantized slices
    val base = Seq.tabulate(2000)(i => (i.toLong, (i % 100) / 100.0, vec()))
      .toDF("id", "ts", "vec")
    val dir = Files.createTempDirectory("graft-annstore-rng").toString + "/by_range20"
    AnnIndexStore.buildBy(
      base.withColumn("bucket", floor(col("ts") * 20).cast("long")),
      dir, "bucket", attrCol = Some("ts"))
    val queries = Seq(
      (0L, 0.0, 1.0, vec()),    // all 20 buckets FULL -> banded ef
      (1L, 0.13, 0.71, vec()),  // partial edges + full middles
      (2L, 0.42, 0.47, vec()),  // sub-bucket slice (SMALL -> exactOverQ)
      (3L, 0.05, 0.35, vec())
    ).toDF("qid", "l", "r", "qvec")
    val res = AnnIndexStore.searchDecileRange(spark, dir, queries,
      k = 10, ef = 256, scale = 20, efBands = true)
    val joined = res.join(queries.select($"qid", $"l", $"r"), "qid")
      .join(base.select($"id".as("nid"), $"ts"), "nid")
    assert(joined.filter($"ts" < $"l" || $"ts" > $"r").count() == 0)
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)),
      queries.withColumn("qtype", lit(2)).withColumn("v", lit(0L)), 10, types = Seq(2))
    val recall = AnnJoin.recallAtK(res, exact)
    assert(recall >= 0.85, s"recall $recall")
  }

  test("tuneBands derives a store's effort table; the banded arms load the sidecar") {
    val base = Seq.tabulate(3000)(i => (i.toLong, (i % 100) / 100.0, vec()))
      .toDF("id", "ts", "vec")
    val root = Files.createTempDirectory("graft-annstore-bands").toString
    val rngDir = s"$root/by_range10"
    AnnIndexStore.buildBy(
      base.withColumn("bucket", floor(col("ts") * 10).cast("long")),
      rngDir, "bucket", attrCol = Some("ts"))
    val sample = Array.fill(12)(vec())
    val b1 = EfTuner.tuneBands(spark, rngDir, sample, k = 10,
      targetRecall = 0.9, ef = 128)
    val b2 = EfTuner.tuneBands(spark, rngDir, sample, k = 10,
      targetRecall = 0.9, ef = 128)
    assert(b1 == b2, "band tuning must be deterministic")
    assert(b1.full.map(_._1).sorted == Seq(2, 4, 8))
    assert(b1.full.forall { case (_, f) => f > 0 && f <= 1.0 })
    // the scan-vs-walk crossover is MEASURED (work-count sweep), lands
    // on a ladder rung, and round-trips through the sidecar like every
    // other tuned field (it participates in the b1 equality above)
    assert(EfTuner.DefaultBruteLadder.contains(b1.bruteCoverage),
      s"tuned bruteCoverage ${b1.bruteCoverage} must be a ladder rung")
    // sidecar round-trip
    AnnIndexStore.writeEfBands(rngDir, b1)
    assert(AnnIndexStore.efBandsOf(rngDir).contains(b1))
    // corrupt sidecar parses to None (callers fall back to defaults)
    assert(graft.operators.EfBands.parse("v9\ngarbage").isEmpty)
    // WIRING: the banded range arm resolves the persisted table
    val queries = Seq.tabulate(6)(i =>
      (i.toLong, (i % 3) / 10.0, (i % 3) / 10.0 + 0.5, vec()))
      .toDF("qid", "l", "r", "qvec")
    AnnIndexStore.lastBandsLoaded = None
    val res = AnnIndexStore.searchDecileRange(spark, rngDir, queries,
      k = 10, ef = 128, scale = 10, efBands = true)
    res.count()
    assert(AnnIndexStore.lastBandsLoaded.contains((rngDir, b1)),
      "banded searchDecileRange must load the store's tuned table")
    // recall with the tuned table still clears the bar
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)),
      queries.withColumn("qtype", lit(2)).withColumn("v", lit(0L)), 10, types = Seq(2))
    assert(AnnJoin.recallAtK(res, exact) >= 0.85)
    // WIRING: the banded label+range arm loads its store's table too
    val lblDir = s"$root/by_label_ts"
    AnnIndexStore.buildBy(
      base.withColumn("label", (col("id") % 3).cast("long")),
      lblDir, "label", attrCol = Some("ts"), maxRowsPerIndex = 400, attrSalted = true)
    val b3 = EfTuner.tuneBands(spark, lblDir, sample, k = 10,
      targetRecall = 0.9, ef = 128)
    AnnIndexStore.writeEfBands(lblDir, b3)
    AnnIndexStore.lastBandsLoaded = None
    AnnIndexStore.searchByRange(spark, lblDir,
      Seq((0L, 1L, 0.1, 0.7, vec())).toDF("qid", "v", "l", "r", "qvec"),
      k = 10, ef = 128, efBands = true).count()
    assert(AnnIndexStore.lastBandsLoaded.contains((lblDir, b3)),
      "banded searchByRange must load the store's tuned table")
    // driver-residency bound: tuning streams one bucket at a time, and
    // a store whose largest bucket exceeds the tuner's byte budget must
    // fail loudly with the sizing rule BEFORE any blob is collected
    System.setProperty("graft.eftuner.maxBytes", "1024")
    try {
      val e = intercept[IllegalArgumentException] {
        EfTuner.tuneBands(spark, rngDir, sample, k = 10,
          targetRecall = 0.9, ef = 128)
      }
      assert(e.getMessage.contains("graft.eftuner.maxBytes"),
        s"budget failure must carry the sizing rule: ${e.getMessage}")
    } finally System.clearProperty("graft.eftuner.maxBytes")
  }

  test("searchIvfListMajorTo equals searchIvf at both group bounds") {
    val base = Seq.tabulate(900)(i => (i.toLong, vec())).toDF("id", "vec")
    val queries = Seq.tabulate(11)(i => (i.toLong, vec())).toDF("qid", "qvec")
    val root = Files.createTempDirectory("graft-annstore-to").toString
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    AnnIndexStore.buildIvf(base, s"$root/by_ivf", nlist = 4)
    val oneShot = set(AnnIndexStore.searchIvf(spark, s"$root/by_ivf", queries,
      k = 5, ef = 128, nprobe = 2))

    // list-major batch form: same result set as the one-shot search —
    // (a) default bound: the whole batch fits one group, every blob
    // read once; (b) a bound tiny enough that every list overflows it,
    // driving both the multi-group packing AND the hot-list slice path
    // (per-group partial top-k rows merged by the global rankTopK)
    AnnIndexStore.searchIvfListMajorTo(spark, s"$root/by_ivf", queries,
      s"$root/t0_lm", k = 5, ef = 128, nprobe = 2)
    assert(new java.io.File(s"$root/t0_lm/_SUCCESS").exists())
    assert(set(spark.read.parquet(s"$root/t0_lm")) == oneShot)
    AnnIndexStore.searchIvfListMajorTo(spark, s"$root/by_ivf", queries,
      s"$root/t0_lm_tiny", k = 5, ef = 128, nprobe = 2, groupBytes = 500)
    assert(set(spark.read.parquet(s"$root/t0_lm_tiny")) == oneShot)
    assert(!new java.io.File(s"$root/t0_lm_tiny.cand.tmp").exists(),
      "candidate staging dir must be cleaned up after the merge")
    // ... and after a failure between staging and the merge
    AnnIndexStore.crashHook = p => if (p == "listmajor.staged") sys.error(p)
    try intercept[RuntimeException] {
      AnnIndexStore.searchIvfListMajorTo(spark, s"$root/by_ivf", queries,
        s"$root/t0_lm_fail", k = 5, ef = 128, nprobe = 2, groupBytes = 500)
    } finally AnnIndexStore.crashHook = _ => ()
    assert(!new java.io.File(s"$root/t0_lm_fail.cand.tmp").exists(),
      "a failed merge must not leave candidate staging behind")
  }

  test("decile ANN join: range predicate holds, recall >= 0.85 vs exact") {
    val base = Seq.tabulate(2000)(i => (i.toLong, (i % 100) / 100.0, vec()))
      .toDF("id", "ts", "vec")
    val queries = Seq(
      (0L, 0.0, 1.0, vec()),     // full range (all deciles FULL)
      (1L, 0.15, 0.65, vec()),   // partial edges (MEDIUM) + FULL middles
      (2L, 0.42, 0.48, vec())    // inside one decile (MEDIUM)
    ).toDF("qid", "l", "r", "qvec")
    val approx = AnnJoin.decileHnswKnn(base, queries, k = 10, ef = 256)
    // predicate check
    val joined = approx.join(queries.select("qid", "l", "r"), "qid")
      .join(base.select(col("id").as("nid"), col("ts")), "nid")
    assert(joined.filter(col("ts") < col("l") || col("ts") > col("r")).count() == 0)
    // recall vs exact type-2
    val exact = KnnJoin.exactFlat(
      base.withColumn("label", lit(0L)),
      queries.withColumn("qtype", lit(2)).withColumn("v", lit(0L)), 10)
    val recall = AnnJoin.recallAtK(approx, exact)
    assert(recall >= 0.85, s"recall $recall")
  }
}
