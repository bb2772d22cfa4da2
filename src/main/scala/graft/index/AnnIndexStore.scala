package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TopKAggregate

/** Batch ANN index construction + reuse — the "DataFrame batch index
  * build" shape: one Spark job buckets the base and persists one HNSW
  * per bucket as a parquet row (bucket, ids, graph bytes); any number of
  * later query batches load the index table and search it without
  * touching the raw base again. The Spark analog of the reference's
  * build-then-batch-search lifecycle (baseline.cpp:96-152).
  *
  * At 100 TB: buckets ≈ #cores × small multiple; each bucket row is a
  * self-contained sub-index (tens of MB), the index table is just
  * another parquet dataset — replicated, partition-pruned, cacheable.
  */
object AnnIndexStore {

  // ---- write-time store version: the serving cache's invalidation key --
  //
  // Every store write ends by stamping a fresh unique token into
  // `_store_version` AFTER the parquet job commits. The SQL serving path
  // keys its executor-resident graph cache on (path, version, bucket,
  // sub) — all readable without touching the blob column — so a warm
  // statement reads zero blob bytes, and a rebuilt store at the same
  // path misses (new token) instead of serving stale graphs. A missing
  // file (legacy store, or a writer that died between the parquet commit
  // and the stamp) downgrades readers to the content-fingerprint path:
  // slower, never stale. The stamp rides INSIDE the store directory, so
  // compactDelta's rename swap carries it with the data it describes.

  // private[graft]: probes/specs that hide or delete a stamp to drive
  // the fingerprint fallback must share the one name, not copy it
  private[graft] val versionFileName = "_store_version"

  /** Stamp `dir` with a fresh version token — call AFTER the store's
    * data files are committed. */
  def stampVersion(dir: java.io.File): Unit =
    java.nio.file.Files.write(
      new java.io.File(dir, versionFileName).toPath,
      java.util.UUID.randomUUID().toString.getBytes("UTF-8"))

  /** The store's write-time version token, if stamped. Resolves the
    * generation layout first: a flipped store's token is the CURRENT
    * generation's stamp. */
  def storeVersion(path: String): Option[String] = versionAt(resolveStore(path))

  private def versionAt(dataDir: String): Option[String] = {
    val f = new java.io.File(dataDir.stripSuffix("/"), versionFileName)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
      .filter(_.nonEmpty)
  }

  // ---- generation layout: manifest-pointer store directories ---------
  //
  // A maintenance REBUILD ([[compactDelta]]) must replace a store's data
  // while readers keep serving. The previous layout swapped the store
  // directory itself with two renames, which left a brief store-absent
  // window (nothing at `path` between them): [[recoverStore]] repairs it
  // after a crash, but a concurrent reader could still plan a scan into
  // the gap. The generation layout removes the window — data lives in
  // immutable `_gen-*` subdirectories and a one-line `_manifest` file
  // names the current one; a rebuild writes a complete new generation
  // BESIDE the live one and commits it with ONE atomic manifest rename
  // (the object-store manifest-pointer flip the old compactDelta
  // scaladoc specified as the evolution). Readers resolve root →
  // generation once per operation and then scan an IMMUTABLE directory:
  // there is no in-place state to half-read. Superseded generations —
  // and the flat layout's root files, after a store's first flip — are
  // dead data, deleted at the NEXT COMPACTION entry ([[gcStaleGens]],
  // run only by [[compactDelta]] — the one op that creates
  // generations) so a reader that resolved just before a flip keeps a
  // full inter-fold interval to finish its scan: the same
  // reads-exclude / maintenance-deletes split as [[repairDelta]].
  // Deliberately NOT run by the append/replace entries: a streaming
  // ingest appends every trigger interval, and GC'ing there would
  // shrink the batch read paths' grace window (which, unlike the SQL
  // serving statement, return lazy DataFrames and cannot retry a scan
  // whose resolved generation disappears mid-flight) to seconds. The
  // cost is one superseded generation of disk until the next fold —
  // bounded by the fold's own peak usage.
  //
  // Builders still write the flat layout (a fresh store IS its own
  // generation); only an in-place rebuild flips a store to the
  // generation layout. Underscore-prefixed names keep the manifest and
  // the generation dirs invisible to a whole-directory parquet read of
  // the root during that one migration flip.

  private val manifestName = "_manifest"

  /** The store's current DATA directory: the generation dir named by
    * the root's `_manifest` when present, else the root itself (flat
    * layout). Every reader resolves through this; a manifest naming a
    * missing dir fails the subsequent read loudly rather than silently
    * serving the superseded layout. */
  def resolveStore(path: String): String = {
    val root = path.stripSuffix("/")
    currentGen(root).map(g => s"$root/$g").getOrElse(root)
  }

  /** Resolve the data dir and its version token together — the serving
    * path's one coherent view of (where to scan, what to key the cache
    * on). A generation dir is immutable after its flip, so the pair can
    * never be torn by a concurrent rebuild.
    *
    * `subdir` addresses a store NESTED inside another store's layout
    * (the IVF root's `lists`): resolution chains root generation →
    * subdir → the subdir's OWN generation, so the serving retry loop
    * can re-resolve the LOGICAL path after a maintenance swap at
    * either level — an eagerly pre-resolved path would pin one
    * generation and make the retry a no-op. */
  def resolveVersioned(path: String,
      subdir: Option[String] = None): (String, Option[String]) = {
    val d0 = resolveStore(path)
    val d = subdir.fold(d0)(sd => resolveStore(s"$d0/$sd"))
    val r = (d, versionAt(d))
    postResolveHook()
    r
  }

  /** Test-only interleaving hook: fires after a (data dir, version)
    * pair is resolved, before the caller acts on it — lets a spec
    * deterministically race a maintenance flip + GC against an
    * in-flight serving statement (the corner the serving retry loop
    * covers). Production value is a no-op. */
  @volatile private[index] var postResolveHook: () => Unit = () => ()

  // ---- store-frame cache: one planned scan frame per store version ----
  //
  // `spark.read.parquet(<store>)` pays a file listing plus a footer
  // schema-inference Spark job on EVERY call — on the batch search
  // paths and the SQL serving hot path alike, that job was a fixed
  // per-call floor that did no search work. A planned frame is
  // immutable, so it is cached per (session, resolved data dir,
  // version): the write-time version token is the invalidation key (a
  // rebuild re-stamps it, so superseded entries are simply never read
  // again). Only VERSIONED stores cache: an unversioned store's files
  // can change with no detectable signal, so it re-lists per call — and
  // the serving path's version-swap retry re-lists too (its new token
  // misses), so a retry can never re-read the pre-swap file listing.
  // Load-validate-store, the [[loadCentroidsCached]] rule: a frame is
  // stored only when the token still matches AFTER the listing, so a
  // listing that raced an in-place rebuild is used once and never
  // pinned under the old token. Keyed by the SESSION OBJECT (identity
  // equality) — a hash surrogate could alias two sessions and hand one
  // a frame bound to the other's session state. Eviction: stale tokens
  // are unordered UUIDs with nothing to age by, so hygiene is
  // size-bounded — at the cap, frames of stopped sessions are dropped
  // first, then the map clears wholesale (a re-warm is one listing per
  // store). `AnnCatalog.clear()` clears it too.
  private val storeFrames = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]
  private val MaxStoreFrames = 256

  /** The parquet frame of a store's RESOLVED data dir (a
    * [[resolveStore]] result), cached per write-time version. */
  def storeFrame(spark: SparkSession, dataDir: String): DataFrame =
    storeFrame(spark, dataDir, versionAt(dataDir))

  /** [[storeFrame]] under a version the caller already resolved with
    * `dataDir` ([[resolveVersioned]]) — the serving path keys its
    * executor cache on that same token, so the frame must be validated
    * against it rather than against a fresh read. */
  def storeFrame(spark: SparkSession, dataDir: String,
      ver: Option[String]): DataFrame = ver match {
    case None => spark.read.parquet(dataDir)
    case Some(v) =>
      val key = (spark, dataDir, v)
      val hit = storeFrames.get(key)
      if (hit != null) hit
      else {
        if (storeFrames.size() >= MaxStoreFrames) {
          storeFrames.keySet.removeIf(_._1.sparkContext.isStopped)
          if (storeFrames.size() >= MaxStoreFrames) storeFrames.clear()
        }
        val df = spark.read.parquet(dataDir)
        if (!versionAt(dataDir).contains(v)) df
        else {
          val race = storeFrames.putIfAbsent(key, df)
          if (race != null) race else df
        }
      }
  }

  def clearStoreFrames(): Unit = storeFrames.clear()

  private def currentGen(root: String): Option[String] = {
    val mf = new java.io.File(root, manifestName)
    if (!mf.exists()) return None
    new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
      .split("\n").map(_.trim)
      .collectFirst { case l if l.startsWith("gen=") => l.stripPrefix("gen=") }
      .filter(_.nonEmpty)
  }

  /** Commit `gen` as the store's current generation: a fully-written
    * temp manifest moved into place with one atomic rename — readers
    * see the previous generation or the new one, never an absent or
    * partially-written store. */
  private def flipManifest(root: java.io.File, gen: String): Unit = {
    val tmp = new java.io.File(root, manifestName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, s"v1\ngen=$gen\n".getBytes("UTF-8"))
    // a crash here leaves a fully-written .tmp orphan beside the live
    // manifest — readers still resolve the OLD generation (the flip
    // hasn't happened), and gcStaleGens sweeps the orphan at the next
    // compaction entry
    crashPoint("flip.tmp_written")
    // REPLACE_EXISTING rides along: every flip after the first replaces
    // the live manifest, and ATOMIC_MOVE onto an existing target alone
    // is implementation-specific (POSIX renames replace; other
    // filesystems may throw and fail every fold after the first)
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, manifestName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Next generation dir name: current sequence + 1, plus a random
    * suffix so a crashed prior attempt's orphan can never collide with
    * the name a retry builds. */
  private def nextGenName(root: String): String = {
    val seq = currentGen(root)
      .flatMap(g => scala.util.Try(
        g.stripPrefix("_gen-").takeWhile(_.isDigit).toLong).toOption.filter(_ > 0))
      .getOrElse(0L) + 1
    f"_gen-$seq%06d-" + java.util.UUID.randomUUID().toString.take(8)
  }

  /** COMPACTION-side generation GC: at a generation-layout root,
    * everything except the manifest and the generation it names is dead
    * — a superseded generation, a crashed rebuild's orphan, a leftover
    * manifest temp, or the flat layout's files from before the store's
    * first flip. Deleted here, at [[compactDelta]] entry only (the one
    * op that creates generations), never by readers and never by the
    * append/replace entries — see the layout note above for why the
    * grace window is the inter-FOLD interval. On a flat (manifest-less)
    * store only orphan `_gen-*` dirs and manifest temps are swept (a
    * crashed FIRST flip). */
  private def gcStaleGens(path: String): Unit = {
    val root = new java.io.File(path.stripSuffix("/"))
    if (!root.isDirectory) return
    currentGen(root.getPath) match {
      case None =>
        Option(root.listFiles()).foreach(_.foreach { f =>
          if ((f.isDirectory && f.getName.startsWith("_gen-")) ||
              f.getName == manifestName + ".tmp") deleteRecursively(f)
        })
      case Some(g) =>
        Option(root.listFiles()).foreach(_.foreach { f =>
          if (f.getName != manifestName && f.getName != g) deleteRecursively(f)
        })
    }
  }

  // ---- tuned effort-band sidecar (`_ef_bands`) -----------------------
  //
  // [[EfTuner.tuneBands]] derives a store's own EfBands table and
  // persists it here; the banded search arms (searchDecileRange /
  // searchByRange with efBands = true) load it per call and fall back
  // to the hand-derived SearchParams defaults when absent or corrupt.
  // The sidecar (and its `_ef_bands_params` companion recording the
  // (k, ef) it was tuned under) lives INSIDE the resolved generation
  // and deliberately dies with it at a fold: the table was measured
  // against that generation's sub-indexes, and folded-in rows change
  // the recall curve it encodes — the next
  // [[EfTuner.tuneAndPersistBands]] entry (which reuses a stored table
  // only when BOTH sidecars are present and the params match its own)
  // re-derives it against the new content instead of silently serving
  // stale effort levels.

  private[index] val efBandsFileName = "_ef_bands"
  private[index] val efBandsParamsFileName = "_ef_bands_params"

  // ---- `_nprobe` sidecar: the IVF route's tuned probe count ----
  // Same pair contract as `_ef_bands`: the value file plus a params
  // stamp, written value-then-params with the stale params deleted
  // FIRST (EfTuner.tuneAndPersistNprobe), so a torn pair can never
  // validate and the safe direction is always a re-tune.
  private[index] val nprobeFileName = "_nprobe"
  private[index] val nprobeParamsFileName = "_nprobe_params"

  // ---- `_ivf_ef` sidecar: the IVF arm's tuned WALK beam width ----
  // Same pair contract. nprobe governs WHICH lists are walked
  // (routing loss); this governs the walk INSIDE each probed list —
  // the r14 30M ladder measured end recall 0.9906 at routing 0.9997,
  // i.e. the residual loss was entirely the fixed CLI ef=400 walk,
  // the last hand-set effort knob on the arm.
  private[index] val ivfEfFileName = "_ivf_ef"
  private[index] val ivfEfParamsFileName = "_ivf_ef_params"

  def writeIvfEf(path: String, ef: Int): Unit =
    writeIvfEfAt(new java.io.File(resolveStore(path)), ef)

  private[index] def writeIvfEfAt(dir: java.io.File, ef: Int): Unit =
    writeSidecarAtomic(dir, ivfEfFileName, ef.toString)

  /** The store's tuned IVF walk ef, when a valid `_ivf_ef` sidecar is
    * present (positive integer; anything else reads as absent). */
  def ivfEfOf(path: String): Option[Int] = {
    val f = new java.io.File(resolveStore(path), ivfEfFileName)
    if (!f.exists()) None
    else scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.toInt).toOption.filter(_ > 0)
  }

  /** The caller-facing "use the store's tuned `_nprobe` sidecar if
    * present" sentinel for the IVF search entries' `nprobe` params. */
  val AutoNprobe: Int = -1

  /** The untuned IVF probe-count fallback for [[AutoNprobe]] callers
    * whose store has no `_nprobe` sidecar — kept at the value the
    * search entries' signatures defaulted to before the tuner existed,
    * so "no sidecar" behaves exactly like the old API default (the
    * tuner exists to replace this hand-set constant, not to nudge it). */
  val DefaultNprobe: Int = 4

  def writeNprobe(path: String, nprobe: Int): Unit =
    writeNprobeAt(new java.io.File(resolveStore(path)), nprobe)

  /** Atomic tiny-sidecar write (temp + rename): a crash mid-write of a
    * plain Files.write can leave a TORN value — "16" truncated to "1"
    * parses as a valid (and recall-collapsing) probe count, the one
    * torn state the pair protocol's params stamp cannot catch because
    * serving reads the value file alone. Rename is the same
    * all-or-nothing primitive the stores' `_manifest` flips rely on. */
  private[index] def writeSidecarAtomic(dir: java.io.File, name: String,
      content: String): Unit = {
    // unique temp per write: a FIXED temp name would turn two
    // out-of-contract concurrent writers' benign last-write-wins race
    // into a NoSuchFileException crash (B overwrites A's temp, A's
    // move consumes it, B's move finds nothing)
    val tmp = new java.io.File(dir,
      s"._${name}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      java.nio.file.Files.write(tmp.toPath, content.getBytes("UTF-8"))
      val dst = new java.io.File(dir, name).toPath
      try java.nio.file.Files.move(tmp.toPath, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        // ATOMIC_MOVE onto an existing target is implementation-specific
        // off POSIX; the common re-tune path overwrites an existing
        // sidecar, so fall back to a plain replace there rather than
        // turning tuning into a one-shot operation on such filesystems
        // (the fallback loses only the atomicity hardening, never data)
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally
      // no-op after a successful move (the temp is gone); on a failed
      // write or move it reclaims the orphan so repeated failures do
      // not accumulate ._<name>_tmp_* files in the store directory
      java.nio.file.Files.deleteIfExists(tmp.toPath)
  }

  private[index] def writeNprobeAt(dir: java.io.File, nprobe: Int): Unit =
    writeSidecarAtomic(dir, nprobeFileName, nprobe.toString)

  /** The store's tuned probe count, when a valid `_nprobe` sidecar is
    * present (positive integer; anything else reads as absent — the
    * safe direction is the default, never a garbage probe count). */
  def nprobeOf(path: String): Option[Int] = {
    val f = new java.io.File(resolveStore(path), nprobeFileName)
    if (!f.exists()) None
    else scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.toInt).toOption.filter(_ > 0)
  }

  /** The IVF arms' probe-count resolution: an explicit caller value
    * wins; [[AutoNprobe]] loads the store's tuned sidecar when present,
    * else [[DefaultNprobe]]. Wiring is spec-asserted behaviorally
    * (AnnTopKStrategySpec: the planned route carries the sidecar's
    * value) rather than through a mutable observability hook. */
  def resolveNprobe(path: String, requested: Int): Int =
    if (requested != AutoNprobe) requested
    else nprobeOf(path).getOrElse(DefaultNprobe)

  def writeEfBands(path: String, bands: graft.operators.EfBands): Unit =
    writeEfBandsAt(new java.io.File(resolveStore(path)), bands)

  /** Dir-PINNED write for callers that must keep the bands file
    * coherent with other per-generation sidecars (EfTuner writes bands
    * and its params stamp into ONE resolved dir — an independent
    * re-resolve here could straddle a concurrent generation flip and
    * split the pair). */
  private[index] def writeEfBandsAt(dir: java.io.File,
      bands: graft.operators.EfBands): Unit =
    // atomic for the same torn-value reason as writeNprobeAt: a
    // truncated band table can still PARSE (a prefix of valid lines),
    // and efBandsOf reads the value file alone
    writeSidecarAtomic(dir, efBandsFileName, bands.serialize)

  def efBandsOf(path: String): Option[graft.operators.EfBands] = {
    val f = new java.io.File(resolveStore(path), efBandsFileName)
    if (!f.exists()) None
    else graft.operators.EfBands.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** Test observability: the last (store path, table) a banded search
    * arm resolved — the spec's proof that lifecycle arms actually load
    * the tuned sidecar rather than silently using the defaults. */
  @volatile private[index] var lastBandsLoaded: Option[(String, graft.operators.EfBands)] = None

  /** The banded arms' band-table resolution: the store's tuned sidecar
    * when present, else the hand defaults; recorded for specs. */
  private def resolveBands(path: String): graft.operators.EfBands = {
    val loaded = efBandsOf(path)
    lastBandsLoaded = loaded.map(path -> _)
    loaded.getOrElse(graft.operators.SearchParams.DefaultBands)
  }

  /** Row-group size target for graph-blob store writes: SMALLER than
    * one typical sub-index blob, so parquet closes a row group after
    * every blob row and the `bucket` column's row-group min/max stats
    * pin exactly one bucket. At the default 128 MB target a ~93 MB
    * blob row leaves room for a second row, so nearly EVERY row group
    * spans two buckets — the 30M ladder measured 98 MB genuinely
    * attributed vs 14.57 GB spanning artifact in
    * [[graft.sources.ParquetMeta.maxKeyedColumnBytesSplit]]'s bound,
    * tripping EfTuner's driver-budget require at a residency that was
    * actually fine. Blobs are read whole either way, so the smaller
    * group costs nothing on the scan path. */
  private val storeBlockSizeBytes = (32L << 20).toString

  /** Write options every graph-blob store shares. `parquet.block.size`
    * alone is NOT enough for one-row-per-group: the writer's block
    * check runs only every `parquet.page.size.row.check.min` records
    * (default 100), so a 32-file layout of ~12 blob rows each packs a
    * WHOLE file into one row group regardless of block size — the 30M
    * probe's vectorized reader then materialized an 8-row ≈773 MB
    * columnar batch and OOM'd. Checking after every record costs one
    * buffered-size query per row (trivial at blob row sizes) and
    * guarantees a row group closes as soon as a blob crosses the
    * block target. */
  private def blobStoreWriter(df: org.apache.spark.sql.DataFrame) =
    df.write.mode("overwrite")
      .option("compression", "uncompressed")
      .option("parquet.block.size", storeBlockSizeBytes)
      .option("parquet.page.size.row.check.min", "1")
      .option("parquet.page.size.row.check.max", "1")

  /** Build and persist the bucketed index table.
    * base: (id LONG, vec ARRAY<FLOAT>). */
  def build(base: DataFrame, path: String, numBuckets: Int,
      m: Int = 16, efConstruction: Int = 200): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    val table = base.select(col("id").cast("long"), col("vec"),
        pmod(hash(col("id")), lit(numBuckets)).cast("int").as("bucket"))
      .as[(Long, Array[Float], Int)]
      .repartition(numBuckets, col("bucket"))
      // group by the bucket VALUE inside the partition: repartition
      // re-hashes the value, so two values can collide into one
      // partition — building per partition would then produce one
      // double-size index and leave another partition empty (observed
      // at the 10M probe: a 625k-row bucket next to 312k ones)
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.map { case (bucket, rows) =>
          val index = HnswIndex.buildOn(rows.head._2.length, m, efConstruction,
            rows.iterator.map(_._2), HnswIndex.maxAbsOf(rows.iterator.map(_._2)))
          (bucket, rows.map(_._1), index.toBytes)
        }
      }
      .toDF("bucket", "ids", "graph")
    // UNCOMPRESSED: a graph blob is packed fp32 + int8 codes +
    // adjacency — snappy saves almost nothing on it, and parquet's
    // snappy codec (NonBlockedDecompressor) stages every page through
    // DIRECT ByteBuffers sized to the page: a ~200 MB blob costs each
    // scan task ~650 MB of direct memory (compressed input +
    // uncompressed output), which is what exhausted
    // MaxDirectMemorySize=20g at 32 threads in the r9/r10 full-scale
    // runs. Uncompressed pages read through plain heap buffers.
    blobStoreWriter(table).parquet(path)
    stampVersion(new java.io.File(path.stripSuffix("/")))
  }

  /** Build sub-indexes per VALUE of `bucketCol` (label, decile, …) —
    * the reference's per-category/per-decile build-once lifecycle
    * (hybrid_graph.cpp:47-89): later query batches search only their
    * own value's sub-index rows. Persisted as (bucket, ids, graph)
    * rows; a value above `maxRowsPerIndex` spans several salted rows.
    * base: (id LONG, <bucketCol> LONG, vec ARRAY<FLOAT>). */
  /** `attrCol` (optional) persists one aligned double per row (e.g. the
    * raw timestamp) so range predicates can run the in-filter walk
    * against the stored sub-index ([[searchDecileRange]]).
    *
    * `attrSalted` (requires `attrCol`): oversized buckets split into
    * ATTR-CONTIGUOUS sub-chunks (consecutive (attr, id) rank) instead
    * of hash(id) salt. Hash salting spreads every range query's slice
    * across ALL of a bucket's sub-graphs — the measured type-2 wall at
    * the 10M contest point, and the same amplification on the type-3
    * label+range path; contiguous chunks let [[searchByRange]]'s banded
    * arm skip sub-rows whose [attr_min, attr_max] misses the query
    * range before even deserializing them. Changes sub-graph MEMBERSHIP
    * (walk results can differ at equal recall), so hash-gated oracle
    * stores keep the default. */
  def buildBy(base: DataFrame, path: String, bucketCol: String,
      m: Int = 16, efConstruction: Int = 200,
      attrCol: Option[String] = None,
      maxRowsPerIndex: Int = 200000,
      attrSalted: Boolean = false): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    require(!attrSalted || attrCol.isDefined, "attrSalted requires attrCol")
    val attr = attrCol.map(c => col(c).cast("double")).getOrElse(lit(0.0))
    val keyed = base.select(col("id").cast("long"),
      col(bucketCol).cast("long").as("bucket"), attr.as("attr"), col("vec"))
    // oversized bucket values split into salted sub-indexes — one giant
    // bucket would otherwise be one straggler task building one giant
    // graph; readers merge sub-rows through the bounded top-k
    val salted =
      if (attrSalted) {
        // per-bucket (attr, id) rank → chunks of ≤ maxRowsPerIndex
        // consecutive rows; the biggest bucket is one sort partition,
        // the same skew its graph build pays anyway
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy(col("attr"), col("id"))
        keyed.withColumn("sub",
          ((row_number().over(w) - 1) / maxRowsPerIndex).cast("int"))
      } else {
        val splits = keyed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getLong(0) ->
            math.max(1, math.ceil(r.getLong(1).toDouble / maxRowsPerIndex).toInt))
          .toMap
        val splitsCol = element_at(typedLit(splits), col("bucket"))
        keyed.withColumn("sub", pmod(hash(col("id")), splitsCol).cast("int"))
      }
    val table = salted
      .as[(Long, Long, Double, Array[Float], Int)]
      .repartition(col("bucket"), col("sub"))
      .mapPartitions { it =>
        it.toArray.groupBy(t => (t._2, t._5)).iterator.map { case ((bucket, sub), rowsIn) =>
          // insert in (attr, id) order: node ids then align with the
          // ts-sorted view (TsIndex.perm ≈ identity), so a range
          // slice's SQ8 codes are one CONTIGUOUS run — the sequential
          // layout the reference keeps by sorting each decile before
          // building (utils.h:403-434 + the aligned-code trick,
          // hybrid_graph.cpp:505-524). Shuffle arrival order would
          // scatter every slice scan across the codes array.
          val rows = rowsIn.sortBy(t => (t._3, t._1))
          val index = HnswIndex.buildOn(rows.head._4.length, m, efConstruction,
            rows.iterator.map(_._4), HnswIndex.maxAbsOf(rows.iterator.map(_._4)))
          // `sub` persisted: (bucket, sub) uniquely names this row, so
          // the serving cache can key it without hashing the blob.
          // attr_min/attr_max (rows are (attr, id)-sorted): the range
          // skip bound — parquet column min/max stats prune row GROUPS,
          // these prune per ROW before the blob is deserialized
          (bucket, sub, rows.map(_._1), rows.map(_._3), index.toBytes,
            rows.head._3, rows.last._3)
        }
      }
      .toDF("bucket", "sub", "ids", "attrs", "graph", "attr_min", "attr_max")
      // record WHICH column the aligned attrs came from, so range routes
      // can refuse an index whose attrs are the 0.0 placeholder (a label
      // index built without attrCol would otherwise silently answer
      // type-3 statements wrong — ADVICE r2)
      .withColumn("attr_col", lit(attrCol.orNull))
    // uncompressed for the same direct-memory reason as [[build]];
    // blobStoreWriter: one blob row per row group (stats pin one
    // bucket; the reader batches one blob at a time)
    blobStoreWriter(table).parquet(path)
    stampVersion(new java.io.File(path.stripSuffix("/")))
  }

  /** IVF-routed stored index: sampled k-means++ centroids as the coarse
    * quantizer, one HNSW sub-index per centroid list (salted above
    * `maxRowsPerIndex` like [[buildBy]]), centroids persisted alongside
    * the list table. The scale path for UNFILTERED kNN over a stored
    * index: a hash-bucketed [[build]] store must walk every bucket per
    * query (B× walk amplification — 32 walks/query at the 10M contest
    * probe), while centroid routing reads only `nprobe` lists.
    * base: (id LONG, vec ARRAY<FLOAT>). */
  def buildIvf(base: DataFrame, path: String, nlist: Int,
      m: Int = 16, efConstruction: Int = 200,
      sampleCap: Int = 16384, seed: Long = 7L,
      maxRowsPerIndex: Int = 200000): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    // Hash-spread training sample: limit() would take the scan's FIRST
    // sampleCap rows — one file's locality at warehouse scale, a biased
    // quantizer (all centroids land in that file's data region). A
    // deterministic id-hash stride samples uniformly across the corpus
    // for one full scan of the id column (vec fetched only for matches).
    val nRows = base.select(count(lit(1))).collect()(0).getLong(0)
    val stride = math.max(1L, nRows / math.max(1, sampleCap))
    val sample = base
      .filter(pmod(hash(col("id")), lit(stride)) === 0)
      .select(col("vec")).limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray)
    val centroids = graft.operators.SimilaritySearch.lloydKMeans(sample, nlist, 10, seed)
    writeIvf(base, path, centroids, m, efConstruction, maxRowsPerIndex)
  }

  /** Seeded-IVF stored index: centroids are the deterministic
    * md5-ordered row pick of
    * [[graft.operators.SimilaritySearch.ivfKnnSeeded]] (no Lloyd
    * iterations), so list membership — and therefore the nprobe-limited
    * serving candidate set of an [[org.apache.spark.sql.graft.AnnCatalog]]
    * `ivfIndex` registration — is replayable by a SQL oracle
    * (`ann_sql_ivf`). [[buildIvf]] (k-means centroids) stays the quality
    * path; this is the verifiability path with the same storage layout. */
  def buildIvfSeeded(base: DataFrame, path: String, nlist: Int,
      m: Int = 16, efConstruction: Int = 200,
      maxRowsPerIndex: Int = 200000): Unit = {
    // ONE definition of the seed formula: the SQL oracles (ann_sql_ivf,
    // ann_ivfpq_knn, semdedup_prune) replay it verbatim, so a second
    // hand-maintained copy here would silently break hash parity for
    // one consumer the day the other is edited
    writeIvf(base, path,
      graft.operators.SimilaritySearch.seededCentroids(base, "id", "vec", nlist),
      m, efConstruction, maxRowsPerIndex)
  }

  /** Shared IVF tail: persist the centroid table, assign every row to
    * its nearest centroid (codegen argmin, ties by list index), build
    * one HNSW per list. */
  private def writeIvf(base: DataFrame, path: String,
      centroids: Array[Array[Float]], m: Int, efConstruction: Int,
      maxRowsPerIndex: Int): Unit = {
    val spark = base.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (cv, i) => (i, cv) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val centsFlat = typedLit(centroids.flatten)
    buildBy(
      base.withColumn("list",
        element_at(graft.functions.VectorFunctions.nearestCentroids(
          col("vec"), centsFlat, lit(1)), 1).cast("long")),
      s"$path/lists", "list", m, efConstruction,
      attrCol = None, maxRowsPerIndex = maxRowsPerIndex)
  }

  /** Residual IVF-PQ stored index — the persisted form of
    * [[graft.operators.SimilaritySearch.ivfPqKnnSeeded]]'s in-memory
    * encode, and the layout the 100-TB argument rests on: the codes
    * table is written `partitionBy("list")`, so a query batch's
    * `nprobe` probed lists become STATIC partition filters on the scan
    * — the engine reads nprobe/nlist of an m-ints-per-row table and
    * never touches the other lists' files (the reference's
    * "route before you scan", hybrid_graph.cpp:306-333, as a storage
    * property). Sidecars: `centroids` (list, centroid) and `codebook`
    * (c, bvec — residual rows). Refine reads full vectors from the
    * caller's base table, not the store — codes stay the only derived
    * artifact.
    *
    * Seeded variant (md5 row picks, engine-replayable routing). */
  def buildIvfPqSeeded(base: DataFrame, path: String, nlist: Int,
      m: Int = 8, ksub: Int = 256): Unit = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val coarse = graft.operators.SimilaritySearch.seededCentroids(b, "id", "vec", nlist)
    val book = graft.operators.SimilaritySearch.seededResidualBook(b, ksub, coarse)
    writeIvfPq(b, path, coarse, book, m)
  }

  /** Trained IVF-PQ stored index: Lloyd coarse + per-subspace Lloyd
    * residual codebooks (the quality path; see
    * [[graft.operators.SimilaritySearch.ivfPqKnnTrained]]). */
  def buildIvfPq(base: DataFrame, path: String, nlist: Int,
      m: Int = 8, ksub: Int = 256, sampleCap: Int = 16384,
      maxIter: Int = 10, seed: Long = 7L): Unit = {
    val b = base.select(col("id").cast("long").as("id"), col("vec"))
    val (coarse, book) = graft.operators.SimilaritySearch.trainedIvfPqBooks(
      b, nlist, m, ksub, sampleCap, maxIter, seed)
    writeIvfPq(b, path, coarse, book, m)
  }

  private def writeIvfPq(b: DataFrame, path: String,
      coarse: Array[Array[Float]], book: Array[Array[Float]], m: Int): Unit = {
    val spark = b.sparkSession
    import spark.implicits._
    val dim = coarse(0).length
    require(dim % m == 0, s"writeIvfPq: dim $dim not divisible by m=$m")
    val sub = dim / m
    coarse.zipWithIndex.map { case (cv, i) => (i, cv) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // m rides in the sidecar: readers must not pay a codes-scan probe
    // job per search call just to recover a build-time constant (the
    // same per-call-probe smell as the r8 dim-probe finding)
    book.zipWithIndex.map { case (bv, c) => (c, bv, m) }.toSeq
      .toDF("c", "bvec", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    val centsFlat = typedLit(coarse.flatten)
    val subBooks = graft.operators.SimilaritySearch.pqSubBooks(book, m, sub)
    b.withColumn("list",
        element_at(graft.functions.VectorFunctions.nearestCentroids(
          col("vec"), centsFlat, lit(1)), 1))
      .withColumn("codes",
        graft.operators.SimilaritySearch.pqCodesCol(
          graft.operators.SimilaritySearch.pqResidualCol(col("vec"), col("list"), centsFlat, dim),
          subBooks, m, sub))
      .select(col("id"), col("codes"), col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$path/codes")
    // stamped AFTER the last dataset of the build transaction commits —
    // the centroid cache keys the root's centroid table on this token
    // (PQ stores have no nested buildBy store to borrow a stamp from)
    stampVersion(new java.io.File(s"${path.stripSuffix("/")}/codes"))
  }

  /** Search a [[buildIvfPq]]/[[buildIvfPqSeeded]] store: per query,
    * route to the `nprobe` nearest stored centroids, prune the codes
    * scan to those list partitions (STATIC `isin` filter — the probed
    * set is collected once, bounded by nlist), ADC-rank with
    * per-(query,list) tables over the query's residual, then exact
    * refine against the caller's `base` (id, vec). Matches the
    * in-memory [[graft.operators.SimilaritySearch.ivfPqKnnSeeded]]
    * semantics bit-for-bit at equal parameters (self-excluding,
    * (dist, id) orders). (qid, rank, nid). */
  def searchIvfPq(spark: SparkSession, path: String, base: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 8,
      refineK: Int = 100): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    import graft.operators.{SimilaritySearch => SS, TopKAggregate}
    val store = resolveStore(path)
    val coarse = loadCentroidsCached(spark, store)
    val bookRows = spark.read.parquet(s"$store/codebook")
      .select(col("c").cast("int"), col("bvec"), col("m").cast("int"))
      .collect()
    require(bookRows.nonEmpty, s"searchIvfPq: empty codebook at $path")
    val book = bookRows.map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val m = bookRows(0).getInt(2) // build-time constant, from the sidecar
    val dim = coarse(0).length
    val ksub = book.length
    val centsFlat = typedLit(coarse.flatten)
    val bookFlat = typedLit(book.flatten)

    // ONE collect materializes the routed query batch (r15): the old
    // shape persisted the probed DF and paid a second job for the
    // distinct-list collect before the broadcast build collected the
    // SAME rows again. The routing/ADC expressions are unchanged (the
    // collected values are their outputs — no float-identity risk);
    // driver residency is unchanged too, since broadcast() already
    // collected these exact rows to the driver to build the relation.
    import spark.implicits._
    val probedRows = queries
      .select(col("qid").cast("long").as("qid"), col("qvec"))
      .withColumn("list",
        explode(VF.nearestCentroids(col("qvec"), centsFlat,
          lit(math.min(nprobe, coarse.length)))))
      .withColumn("adc_table",
        VF.pqAdcTable(SS.pqResidualCol(col("qvec"), col("list"), centsFlat, dim), bookFlat, lit(m)))
      .select(col("qid"), col("list"), col("adc_table"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // the probed-list set is ≤ nlist values: it turns routing into a
    // STATIC partition filter on the codes scan
    val lists = probedRows.map(_._2).distinct.sorted
    val codes = spark.read.parquet(s"$store/codes")
      .where(col("list").isin(lists.map(Integer.valueOf): _*))
      .select(col("id"), col("list").cast("int").as("list"), col("codes"))

    val probed = probedRows.toIndexedSeq.toDF("qid", "list", "adc_table")
    val cand = broadcast(probed.select(col("qid"), col("list"), col("adc_table")))
      .join(codes, "list")
      .filter(col("id") =!= col("qid"))
      .withColumn("adc", VF.pqAdcSum(col("codes"), col("adc_table"), lit(ksub)))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(refineK, col("adc"), col("id")).as("cands"))
      .select(col("qid"), explode(col("cands")).as("id"))

    val q = queries.select(col("qid").cast("long").as("qid"), col("qvec"))
    broadcast(cand.join(broadcast(q), "qid"))
      .join(base.select(col("id").cast("long").as("id"), col("vec")), "id")
      .withColumn("dist", VF.l2Sq(col("qvec"), col("vec")))
      .transform(rankTopK(_, k))
  }

  /** Search a [[buildIvf]] table: each query fans out to its `nprobe`
    * nearest centroid lists and the per-list candidates merge through
    * the bounded top-k ([[searchBy]] machinery — several rows per list
    * when the build salted an oversized one). (qid, rank, nid). */
  def searchIvf(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200, nprobe: Int = AutoNprobe): DataFrame = {
    val store = resolveStore(path)
    val cents = loadCentroidsCached(spark, store)
    val centsFlat = typedLit(cents.flatten)
    val np = math.min(resolveNprobe(path, nprobe), cents.length)
    val probed = queries.select(col("qid"),
        explode(graft.functions.VectorFunctions.nearestCentroids(
          col("qvec"), centsFlat, lit(np))).as("probe"),
        col("qvec"))
      .select(col("qid"), col("probe").cast("long").as("v"), col("qvec"))
    searchBy(spark, s"$store/lists", probed, k, ef)
  }

  /** [[searchIvf]] for a DRIVER-RESIDENT query sample (the tuners'
    * shape): centroid routing runs driver-side through the SAME
    * (dist, index) selection kernel the expression route uses
    * ([[org.apache.spark.sql.graft.NearestCentroids.topkArr]] — probe
    * sets float-identical by construction), skipping the local-DF
    * round-trip and its collect job per invocation. Results are
    * row-identical to [[searchIvf]] on the equivalent DF. */
  private[index] def searchIvfSample(spark: SparkSession, path: String,
      qs: Array[(Long, Array[Float])], k: Int, ef: Int,
      nprobe: Int = AutoNprobe): DataFrame = {
    val store = resolveStore(path)
    val cents = loadCentroidsCached(spark, store)
    val np = math.min(resolveNprobe(path, nprobe), cents.length)
    val centsFlat = cents.flatten
    val qByBucket = qs.flatMap { case (qid, q) =>
      org.apache.spark.sql.graft.NearestCentroids.topkArr(q, centsFlat, np)
        .map(l => (l.toLong, (qid, q)))
    }.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2)) }
    searchByBatch(spark, s"$store/lists", qByBucket, k, ef)
  }

  /** Per-assignment broadcast footprint estimate for the list-major
    * grouping: dim floats + array header + the (qid, vec) tuple and
    * boxing overhead. Deliberately generous — over-estimating splits
    * one group into two (each still reads only its own lists, zero
    * re-reads); under-estimating blows the driver collect. */
  private def assignmentBytes(dim: Int): Long = 4L * dim + 96L

  /** Default driver/broadcast residency bound of one list-major group
    * (assignment rows × vec footprint): the 250k-query batch measured
    * driver-flat at ~100 MB of vectors (BASELINE.md round 13), so a
    * 256 MB group holds a full contest-scale type-0 batch in ONE group
    * while staying far from driver-heap pressure on executor-shaped
    * JVMs. */
  private val DefaultGroupBytes: Long = 256L * 1024 * 1024

  /** LIST-MAJOR batched [[searchIvf]]: reads each probed list's blob
    * exactly ONCE per batch, however large the batch.
    *
    * A QUERY-major chunked feed re-scans ~all probed lists per slice,
    * so a B-chunk batch reads the store ~B times (the 30M ladder
    * measured ~70 GB of blob reloads against a 14 GB store). This is the reference's own locality order inverted into
    * the batch loop: its per-category search iterates INDEX-major for
    * exactly this reason (hybrid_graph.cpp:239-298). Here:
    *
    *  1. a distributed routing plan assigns every query its `nprobe`
    *     nearest lists, and the per-list assignment COUNTS (≤ nlist
    *     rows) come to the driver, which first-fit-decreasing bin-packs
    *     the lists into groups whose assignment footprint fits
    *     `groupBytes`;
    *  2. ONE group (the normal case under the default bound): the
    *     assignments are collected once (re-routing the batch inside
    *     that collect — persisting nprobe-expanded rows that are read
    *     once cost an extra cache-materializing job), broadcast,
    *     walked, ranked and written to `outPath` in one step — no
    *     staging, no second merge;
    *  3. several groups: the routed assignments are persisted
    *     MEMORY_AND_DISK (qids + vecs spill to local disk, never the
    *     driver); each group collects ONLY its own assignments (≤ the
    *     bound by construction), broadcasts them, and scans ONLY its
    *     own lists — every blob is deserialized once, for all the
    *     queries that probe it. Per-group per-qid partial top-k rows
    *     (dist kept) stage to `<out>.cand.tmp` (removed on success and
    *     on failure), and one global [[rankTopK]] merges a query's
    *     groups exactly — a query whose probed lists span groups gets
    *     the same (dist, id)-ordered result the single-pass form
    *     produces.
    *
    * A single list whose own assignments exceed the bound (hot-list
    * skew) degrades gracefully: its group streams query slices at the
    * bound, re-reading just that one blob per slice — amplification
    * proportional to the skew, never to the batch. Results are
    * bit-identical to the one-shot [[searchIvf]] (same walks, same
    * (dist, id) merge order). */
  def searchIvfListMajorTo(spark: SparkSession, path: String, queries: DataFrame,
      outPath: String, k: Int, ef: Int = 200, nprobe: Int = AutoNprobe,
      groupBytes: Long = DefaultGroupBytes): Unit = {
    val store = resolveStore(path)
    val cents = loadCentroidsCached(spark, store)
    val np = math.min(resolveNprobe(path, nprobe), cents.length)
    val capRows = math.max(1L, groupBytes / assignmentBytes(cents(0).length))
    val centsFlat = typedLit(cents.flatten)
    val routing = queries
      .select(col("qid").cast("long").as("qid"),
        explode(graft.functions.VectorFunctions.nearestCentroids(
          col("qvec"), centsFlat, lit(np))).as("probe"),
        col("qvec"))
      .select(col("qid"), col("probe").cast("long").as("bucket"), col("qvec"))
    def collectByBucket(rows: DataFrame): Map[Long, Array[(Long, Array[Float])]] =
      rows.select(col("bucket"), col("qid"), col("qvec"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
        .groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2)) }
    val counts = routing.groupBy("bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // first-fit-decreasing: oversized lists land alone (handled
    // chunked below); everything else packs under capRows
    val groups = scala.collection.mutable.ArrayBuffer.empty[
      (scala.collection.mutable.ArrayBuffer[Long], Long)]
    counts.sortBy { case (b, c) => (-c, b) }.foreach { case (b, c) =>
      val fit = groups.indexWhere { case (_, used) => used + c <= capRows }
      if (fit >= 0) {
        val (ls, used) = groups(fit)
        ls += b
        groups(fit) = (ls, used + c)
      } else groups += ((scala.collection.mutable.ArrayBuffer(b), c))
    }
    if (groups.length <= 1 && groups.forall(_._2 <= capRows)) {
      // one group holds every assignment (or the batch is empty):
      // search, rank and write in one step
      writeChunkedResults(spark, outPath, Iterator.single(
        searchByBatch(spark, s"$store/lists", collectByBucket(routing), k, ef)))
      return
    }
    val routed = routing.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candTmp = new java.io.File(outPath.stripSuffix("/") + ".cand.tmp")
    deleteRecursively(candTmp)
    try {
      groups.foreach { case (lists, used) =>
        val rows = routed.filter(col("bucket")
          .isin(lists.map(java.lang.Long.valueOf).toSeq: _*))
        val parts: Iterator[Map[Long, Array[(Long, Array[Float])]]] =
          if (used <= capRows) Iterator.single(collectByBucket(rows))
          else {
            // hot-list skew: one list alone exceeds the bound — stream
            // its queries at the bound; only THIS blob re-reads
            val b = lists.head
            val sliceRows = math.min(capRows, Int.MaxValue.toLong).toInt
            queryChunks(rows.select(col("qid"), col("qvec")), sliceRows)
              .map(chunk => Map(b -> chunk))
          }
        parts.foreach { qByBucket =>
          searchByBatchCandidates(spark, s"$store/lists", qByBucket, k, ef)
            .write.mode("append").parquet(candTmp.getPath)
        }
      }
      crashPoint("listmajor.staged")
      writeChunkedResults(spark, outPath, Iterator.single(
        rankTopK(spark.read.parquet(candTmp.getPath), k)))
    } finally {
      deleteRecursively(candTmp)
      routed.unpersist(blocking = false)
    }
  }

  /** Type-3 search over a per-label [[buildBy]] table built with
    * `attrCol = ts`: each query walks ONLY its label's sub-index with
    * the ts in-filter — the stored-index form of the reference's
    * SearchCategoryRange (searcher.hpp:301-374).
    *
    * `efBands` (serving-scale arm, pairs with an `attrSalted` store):
    * the type-2 rework's ingredients applied to the label+range path —
    * (a) sub-rows whose [ts(0), ts(last)] misses the query range are
    * SKIPPED before the graph is even deserialized (with attr-contiguous
    * salting an oversized label's non-overlapping chunks cost nothing;
    * hash-salted stores walk every chunk per query), (b) a sub-row the
    * range fully covers walks PLAIN (no in-filter overhead), (c) below
    * [[graft.operators.SearchParams.BruteCoverage]] the slice is scanned
    * by the quantized two-stage [[HnswIndex.exactOverQ]] (int8 preselect
    * + fp32 re-rank — the measured 4.3× over the boosted filtered walk
    * at the t2 probe). Results can differ from the exact-effort arm at
    * the quantization margin, so hash-gated oracle queries keep the
    * default. queries: (qid, v, l, r, qvec) → (qid, rank, nid). */
  def searchByRange(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200, efBands: Boolean = false): DataFrame = {
    import spark.implicits._
    requireAttrStamped(spark, path, "searchByRange")
    val qByBucket = queries
      .select(col("qid").cast("long"), col("v").cast("long"),
        col("l").cast("double"), col("r").cast("double"), col("qvec"))
      .collect()
      .map(r => (r.getLong(1),
        (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getSeq[Float](4).toArray)))
      .groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2)) }
    if (qByBucket.isEmpty) return spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
    val bands =
      if (efBands) resolveBands(path) else graft.operators.SearchParams.DefaultBands
    val bq = spark.sparkContext.broadcast(qByBucket)
    val wanted = qByBucket.keys.toSeq
    val scan0 = storeFrame(spark, resolveStore(path))
      .filter(col("bucket").isin(wanted: _*))
    // banded arm, attr-stamped store: push PER-BUCKET attr envelopes
    // into the scan — parquet row-group stats then skip sub-rows no
    // query OF THAT BUCKET can touch before their blob columns are even
    // read (a global envelope would approach [0, 1] as soon as the
    // batch spans many labels and prune nothing). Each disjunct only
    // drops rows outside its own bucket's query envelope, so the filter
    // is safe by construction; the per-row ts(0)/ts(last) check below
    // still skips precisely, per query, before deserialization. The
    // stats evaluation is per ROW GROUP and these rows are graph blobs
    // (few rows per group), so a few hundred disjuncts cost ~nothing;
    // beyond the clamp the OR tree's plan-analysis cost outweighs the
    // pruning and the batch-global envelope is used instead.
    val scan =
      if (efBands && scan0.columns.contains("attr_min")) {
        if (qByBucket.size <= 256)
          scan0.filter(qByBucket.iterator.map { case (b, qs) =>
            col("bucket") === b &&
              col("attr_max") >= qs.iterator.map(_._2).min &&
              col("attr_min") <= qs.iterator.map(_._3).max
          }.reduce(_ || _))
        else {
          val minL = qByBucket.valuesIterator.flatMap(_.iterator).map(_._2).min
          val maxR = qByBucket.valuesIterator.flatMap(_.iterator).map(_._3).max
          scan0.filter(col("attr_max") >= minL && col("attr_min") <= maxR)
        }
      } else scan0
    scan
      .select(col("bucket"), col("ids"), col("attrs"), col("graph"))
      .as[(Long, Array[Long], Array[Double], Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (bucket, ids, ts, graphBytes) =>
          bq.value.get(bucket).iterator.flatMap { qs =>
            // attrs are (attr, id)-sorted at build: ts(0)/ts(last) bound
            // the sub-row, so the overlap check needs no graph
            val overlapping =
              if (!efBands || ts.isEmpty) qs
              else qs.filter { case (_, l, r, _) => l <= ts(ts.length - 1) && r >= ts(0) }
            if (overlapping.isEmpty) Iterator.empty
            else {
              val index = HnswIndex.fromBytesCached(graphBytes)
              val tsIdx = new TsIndex(ts)
              overlapping.iterator.flatMap { case (qid, l, r, qvec) =>
                val full = efBands && ts.nonEmpty &&
                  l <= ts(0) && r >= ts(ts.length - 1)
                val hits =
                  if (full) index.search(qvec, k, ef)
                  else {
                    val cover = tsIdx.coverage(l, r)
                    val (thr, exactScan) =
                      if (efBands)
                        (bands.bruteCoverage,
                          () => index.exactOverQ(qvec, tsIdx.inRange(l, r), k))
                      else
                        (graft.operators.SearchParams.SmallCoverage,
                          () => index.exactOver(qvec, tsIdx.inRange(l, r), k))
                    if (cover < thr) exactScan()
                    else {
                      val allowed: Int => Boolean = i => ts(i) >= l && ts(i) <= r
                      val efW =
                        if (efBands) bands.inFilterEf(ef, cover)
                        else graft.operators.SearchParams.inFilterEf(ef, cover)
                      index.search(qvec, k, efW, allowed,
                        seeds = tsIdx.seeds(l, r, graft.operators.SearchParams.FilterSeeds))
                    }
                  }
                hits.iterator.map { case (internal, d) => (qid, ids(internal), d) }
              }
            }
          }
        }
      }
      .toDF("qid", "id", "dist")
      .transform(rankTopK(_, k))
  }

  /** Range search over a ts-bucketed [[buildBy]] table (bucketCol =
    * floor(ts·scale), attrCol = ts): each query reads only its
    * overlapping bucket rows (bucket min/max pruned), walks
    * fully-covered buckets unfiltered and partially-covered ones with
    * the ts in-filter, and the per-bucket candidates merge through the
    * bounded top-k — the stored-index form of the reference's type-2
    * stage (hybrid_graph.cpp:338-459).
    *
    * `scale` = buckets per unit ts (10 = the reference's deciles). The
    * reference is pinned to 10 because its decile graphs are offset
    * slices of ONE ts-sorted array; here each bucket is its own stored
    * graph, so the right granularity is data-sized: scale ≈
    * n/maxRowsPerIndex keeps every bucket ONE unsalted graph, and a
    * range then walks only the buckets it actually overlaps. A coarse
    * salted store makes every partial range walk ALL of a decile's
    * salted sub-graphs (hash salting spreads each query's range over
    * every sub-graph — the measured type-2 wall at the 10M contest
    * point); ts-contiguous fine buckets cut the per-query walk count by
    * the salt factor.
    *
    * `efBands` (serving-scale arm): fully-covered bucket walks use
    * [[graft.operators.SearchParams.unionWalkEf]] (per-bucket depth
    * shrinks as more full buckets contribute) and SMALL slices use the
    * quantized [[HnswIndex.exactOverQ]] two-stage scan. Off by default:
    * both can differ from the exact-effort result at the margin, and
    * the hash-gated oracle queries must stay bit-stable.
    *
    * queries: (qid, l, r, qvec). */
  def searchDecileRange(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200, scale: Int = 10, efBands: Boolean = false): DataFrame = {
    import spark.implicits._
    requireAttrStamped(spark, path, "searchDecileRange")
    val qBatch = queries
      .select(col("qid").cast("long"), col("l").cast("double"),
        col("r").cast("double"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getSeq[Float](3).toArray))
    if (qBatch.isEmpty) return spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
    // the banded arm's effort table: the store's tuned sidecar when
    // present (EfTuner.tuneBands), else the hand-derived defaults
    val bands =
      if (efBands) resolveBands(path) else graft.operators.SearchParams.DefaultBands
    val bq = spark.sparkContext.broadcast(qBatch)
    // widen the coarse prune one bucket low ONLY when the batch's min
    // lo sits exactly on a bucket boundary — the single case where a
    // boundary row could be filed one bucket down by floor rounding
    // AND still be in range (ts >= lo is monotone through the double
    // multiply, so off-boundary lows can never have in-range rows
    // below the nominal bucket; ADVICE r2). The per-row in-filter
    // keeps the extra bucket correct when it is included.
    val minLo = qBatch.map(_._2).min
    val nominalB = math.floor(minLo * scale).toLong
    val minB = if (minLo <= nominalB.toDouble / scale) nominalB - 1 else nominalB
    val maxB = math.floor(qBatch.map(_._3).max * scale).toLong
    // Query-shard the batch across replicated bucket scans: one task
    // per bucket row makes the stage wall the SLOWEST bucket (middle
    // buckets overlap most ranges — measured tail skew at the 6M
    // probe: 2-28 of 32 threads busy). Each of the `shards` scan
    // replicas serves an index-strided 1/shards of the batch, so the
    // straggler shrinks by the shard factor; the graph blob re-read is
    // page-cached and the deserialization is shared via
    // fromBytesCached.
    val shards = math.max(1, math.min(16, qBatch.length / 4000))
    val scanOne = storeFrame(spark, resolveStore(path))
      .filter(col("bucket") >= minB && col("bucket") <= maxB)
      .select(col("bucket"), col("ids"), col("attrs"), col("graph"))
    val scan =
      if (shards == 1) scanOne.withColumn("qshard", lit(0))
      else (0 until shards).map(s => scanOne.withColumn("qshard", lit(s)))
        .reduce(_ unionByName _)
    scan
      .as[(Long, Array[Long], Array[Double], Array[Byte], Int)]
      .mapPartitions { it =>
        it.flatMap { case (bucket, ids, ts, graphBytes, qshard) =>
          val bStart = bucket.toDouble / scale
          val bEnd = (bucket + 1).toDouble / scale
          // boundary buckets inclusive on both sides (see minB note)
          val all = bq.value
          val overlapping = Iterator.range(qshard, all.length, shards)
            .map(all(_))
            .filter { case (_, l, r, _) => l <= bEnd && r >= bStart }
            .toArray
          if (overlapping.isEmpty) Iterator.empty
          else {
            val index = HnswIndex.fromBytesCached(graphBytes)
            val tsIdx = new TsIndex(ts)
            overlapping.iterator.flatMap { case (qid, l, r, qvec) =>
              val full = l <= bStart && r >= bEnd
              val hits =
                if (full) {
                  val efFull =
                    if (efBands) {
                      val mFull = math.max(0,
                        math.floor(r * scale) - math.ceil(l * scale)).toInt
                      bands.unionWalkEf(ef, k, mFull)
                    } else ef
                  index.search(qvec, k, efFull)
                } else {
                  // partial bucket: below a coverage threshold a
                  // sequential exact scan of the in-range run (one
                  // contiguous slice — ts-sorted build) beats a
                  // rejection-boosted filtered walk. The banded arm
                  // scans int8 codes + fp32 refine and draws its line
                  // at BruteCoverage (measured: warm filtered walk
                  // ≈ 3.5 ms vs ≤ 2.5 ms scan at the 6M probe; the
                  // reference's narrow-sel SplitInterval draws the same
                  // 0.5-0.6 line, hybrid_graph.cpp:91-134); the plain
                  // arm scans fp32 below SmallCoverage. Same walk above
                  // the line in both arms.
                  val cover = tsIdx.coverage(l, r)
                  val (thr, exactScan) =
                    if (efBands)
                      (bands.bruteCoverage,
                        () => index.exactOverQ(qvec, tsIdx.inRange(l, r), k))
                    else
                      (graft.operators.SearchParams.SmallCoverage,
                        () => index.exactOver(qvec, tsIdx.inRange(l, r), k))
                  if (cover < thr) exactScan()
                  else {
                    val allowed: Int => Boolean = i => ts(i) >= l && ts(i) <= r
                    val efW =
                      if (efBands) bands.inFilterEf(ef, cover)
                      else graft.operators.SearchParams.inFilterEf(ef, cover)
                    index.search(qvec, k, efW, allowed,
                      seeds = tsIdx.seeds(l, r, graft.operators.SearchParams.FilterSeeds))
                  }
                }
              hits.iterator.map { case (internal, d) => (qid, ids(internal), d) }
            }
          }
        }
      }
      .toDF("qid", "id", "dist")
      .transform(rankTopK(_, k))
  }

  /** Search a [[buildBy]] table with bucket-keyed queries (qid, v,
    * qvec): each query runs ONLY against its own value's sub-index rows
    * — the predicate holds by construction, per-row candidates merge
    * through the bounded top-k (several rows per value when the build
    * salted an oversized bucket), and the scan prunes to the requested
    * buckets via parquet min/max stats. (qid, rank, nid). */
  def searchBy(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200): DataFrame = {
    val qByBucket = queries.select(col("qid").cast("long"), col("v").cast("long"), col("qvec"))
      .collect()
      .map(r => (r.getLong(1), (r.getLong(0), r.getSeq[Float](2).toArray)))
      .groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2)) }
    searchByBatch(spark, path, qByBucket, k, ef)
  }

  private def searchByBatch(spark: SparkSession, path: String,
      qByBucket: Map[Long, Array[(Long, Array[Float])]],
      k: Int, ef: Int): DataFrame = {
    import spark.implicits._
    if (qByBucket.isEmpty) return spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
    rawSearchByBatch(spark, path, qByBucket, k, ef).transform(rankTopK(_, k))
  }

  /** [[searchByBatch]] in its PARTIAL form for two-level merges: the
    * per-qid top-k here covers only the buckets this call scanned, so
    * the eval keeps the distances — (qid, id, dist), k rows per qid —
    * and a later global [[rankTopK]] over the union of several calls'
    * outputs merges them exactly (the partial reduce preserves each
    * scope's k best, a superset of its contribution to the global k). */
  private def searchByBatchCandidates(spark: SparkSession, path: String,
      qByBucket: Map[Long, Array[(Long, Array[Float])]],
      k: Int, ef: Int): DataFrame = {
    import spark.implicits._
    if (qByBucket.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("qid", "id", "dist")
    rawSearchByBatch(spark, path, qByBucket, k, ef)
      .groupBy("qid")
      .agg(graft.operators.TopKAggregate.topkPairs(k, col("dist"), col("id")).as("nb"))
      .select(col("qid"), explode(col("nb")).as("p"))
      .select(col("qid"), col("p.id").as("id"), col("p.dist").as("dist"))
  }

  /** Per-candidate (qid, id, dist) rows from walking each requested
    * bucket's sub-indices against its broadcast query slice — the
    * shared core of [[searchByBatch]] and [[searchByBatchCandidates]]. */
  private def rawSearchByBatch(spark: SparkSession, path: String,
      qByBucket: Map[Long, Array[(Long, Array[Float])]],
      k: Int, ef: Int): DataFrame = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(qByBucket)
    val wanted = qByBucket.keys.toSeq
    storeFrame(spark, resolveStore(path))
      .filter(col("bucket").isin(wanted: _*))
      .select(col("bucket"), col("ids"), col("graph"))
      .as[(Long, Array[Long], Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (bucket, ids, graphBytes) =>
          bq.value.get(bucket).iterator.flatMap { qs =>
            val index = HnswIndex.fromBytesCached(graphBytes)
            qs.iterator.flatMap { case (qid, qvec) =>
              index.search(qvec, k, ef).iterator.map { case (internal, d) =>
                (qid, ids(internal), d)
              }
            }
          }
        }
      }
      .toDF("qid", "id", "dist")
  }

  /** Search a persisted index table: every bucket row searches the
    * broadcast query batch; bounded top-k merge. (qid, rank, nid).
    *
    * The query batch is broadcast-sized by contract (the contest shape,
    * 1M × ~420 B ≈ 420 MB, fits a broadcast). */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200): DataFrame = {
    val qBatch = queries.select(col("qid").cast("long"), col("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    searchBatch(spark, path, qBatch, k, ef)
  }

  /** Driver-streamed `chunkRows`-sized query slices — peak driver
    * memory is one chunk, independent of total batch size. */
  private def queryChunks(queries: DataFrame,
      chunkRows: Int): Iterator[Array[(Long, Array[Float])]] = {
    val it = queries.select(col("qid").cast("long"), col("qvec"))
      .toLocalIterator()
    Iterator.continually {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      while (it.hasNext && buf.length < chunkRows) {
        val r = it.next()
        buf += ((r.getLong(0), r.getSeq[Float](1).toArray))
      }
      buf.toArray
    }.takeWhile(_.nonEmpty)
  }

  private def writeChunkedResults(spark: SparkSession, outPath: String,
      results: Iterator[DataFrame]): Unit = {
    import spark.implicits._
    val tmp = outPath.stripSuffix("/") + ".tmp"
    deleteRecursively(new java.io.File(tmp))
    var any = false
    results.foreach { df => df.write.mode("append").parquet(tmp); any = true }
    if (!any)
      spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
        .write.mode("overwrite").parquet(tmp)
    deleteRecursively(new java.io.File(outPath))
    require(new java.io.File(tmp).renameTo(new java.io.File(outPath)),
      s"rename $tmp -> $outPath failed")
  }

  private def searchBatch(spark: SparkSession, path: String,
      qBatch: Array[(Long, Array[Float])], k: Int, ef: Int): DataFrame = {
    if (qBatch.isEmpty) {
      import spark.implicits._
      return spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
    }
    rankTopK(rawSearchBatch(spark, path, qBatch, k, ef), k)
  }

  /** Per-candidate (qid, id, dist) rows before the top-k merge — shared
    * by the plain search and the delta-union path. */
  private def rawSearchBatch(spark: SparkSession, path: String,
      qBatch: Array[(Long, Array[Float])], k: Int, ef: Int): DataFrame = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(qBatch)
    storeFrame(spark, resolveStore(path))
      .select(col("ids"), col("graph"))
      .as[(Array[Long], Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (ids, graphBytes) =>
          val index = HnswIndex.fromBytesCached(graphBytes)
          bq.value.iterator.flatMap { case (qid, qvec) =>
            index.search(qvec, k, ef).iterator.map { case (internal, d) =>
              (qid, ids(internal), d)
            }
          }
        }
      }
      .toDF("qid", "id", "dist")
  }

  /** The `centroids` sidecar as a list-ordered centroid array — ONE
    * definition of the coarse-quantizer load every IVF search arm
    * shares (the nlist-row collect is driver-trivial by contract). */
  private[index] def loadCentroids(spark: SparkSession, store: String): Array[Array[Float]] =
    spark.read.parquet(s"$store/centroids")
      .select(col("list").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)

  // Driver-resident centroid cache, keyed on (resolved data dir, version
  // token) — the ServingCache invalidation rule: generation dirs are
  // immutable and every (re)build re-stamps `_store_version`, so a hit
  // can never serve stale centroids; an unstamped (legacy/partial) store
  // skips the cache entirely. Centroid tables are small (nlist × dim
  // floats — ~150 KB at the 30M point), but each uncached load is a
  // full Spark collect job, and the IVF route reads centroids on every
  // search/tune entry (the nprobe tuner alone paid ~12 such jobs per
  // gate run before this).
  private val centroidCache =
    new java.util.LinkedHashMap[(String, String), Array[Array[Float]]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Array[Array[Float]]]): Boolean =
        size() > 16
    }

  private[index] def loadCentroidsCached(spark: SparkSession, store: String): Array[Array[Float]] = {
    // IVF roots themselves carry no stamp (writeIvf's buildBy stamps the
    // nested LISTS store; buildIvfPq's writer stamps the CODES store) —
    // the centroids are written in the same build transaction as those
    // datasets, so their stamp is a valid freshness key for the root's
    // centroid table: a rebuild rewrites both and re-stamps. Without the
    // fallback the cache silently never hit for exactly the IVF stores
    // it was built for (r14 review finding).
    val root = store.stripSuffix("/")
    val ver = versionAt(root)
      .orElse(versionAt(resolveStore(s"$root/lists")))
      .orElse(versionAt(resolveStore(s"$root/codes")))
    ver match {
      case None => loadCentroids(spark, store)
      case Some(v) =>
        val key = (root, v)
        val hit = centroidCache.synchronized(centroidCache.get(key))
        if (hit != null) hit
        else {
          val cents = loadCentroids(spark, store)
          // load-validate-store (r14 advisory): a reader racing a
          // flat-layout in-place rebuild (writeIvf overwrites centroids
          // before buildBy re-stamps lists) could read the NEW table
          // under the OLD token; caching that entry would serve the
          // poisoned pair to every later reader of the old state. Only
          // cache when the token is unchanged AFTER the load — the
          // caller still gets the freshly-read table either way, which
          // is exactly what an uncached racy read returned before.
          val verAfter = versionAt(root)
            .orElse(versionAt(resolveStore(s"$root/lists")))
            .orElse(versionAt(resolveStore(s"$root/codes")))
          if (verAfter.contains(v))
            centroidCache.synchronized(centroidCache.put(key, cents))
          cents
        }
    }
  }

  /** Per-(query, list) walk candidates over EVERY list of a [[buildIvf]]
    * store, in one distributed pass: (qid, list, id, dist) — each list
    * row's HNSW walked against the whole broadcast sample at `ef`, top-k
    * per (query, sub-row). Because per-list walks are independent of
    * which lists a probe set selects, a rung's [[searchIvf]] result is
    * EXACTLY the (dist, id)-ascending top-k over the candidates of that
    * rung's probed lists — the nprobe tuner derives its whole ladder
    * from this single pass instead of one search job per rung (and the
    * all-lists walk is itself the work its old truth pass did). */
  private[index] def ivfWalkCandidates(spark: SparkSession, path: String,
      sample: Array[(Long, Array[Float])], k: Int,
      ef: Int): Array[(Long, Long, Long, Double)] = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(sample)
    // nested resolve, both levels (the resolveVersioned contract): the
    // lists store is itself a buildBy store and could carry its own
    // generation layout after a maintenance flip — a root-level resolve
    // alone would read the superseded flat files
    storeFrame(spark, resolveStore(s"${resolveStore(path)}/lists"))
      .select(col("bucket"), col("ids"), col("graph"))
      .as[(Long, Array[Long], Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (bucket, ids, graphBytes) =>
          val index = HnswIndex.fromBytesCached(graphBytes)
          bq.value.iterator.flatMap { case (qid, qvec) =>
            index.search(qvec, k, ef).iterator.map { case (internal, d) =>
              (qid, bucket, ids(internal), d)
            }
          }
        }
      }
      .collect()
  }

  private def rankTopK(raw: DataFrame, k: Int): DataFrame =
    raw.groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("dist"), col("id")).as("nb"))
      .select(col("qid"), posexplode(col("nb")).as(Seq("r0", "nid")))
      .select(col("qid"), (col("r0") + 1).cast("long").as("rank"), col("nid"))

  // ---- delta appends: LSM-style incremental index maintenance ----
  //
  // Lifecycle contract (single-writer MAINTENANCE, lock-free reads):
  //   - appendDelta / replaceDelta / appendDeltaBatch / compactDelta are
  //     maintenance ops — at most one runs at a time, and only they
  //     mutate the store or delete stale delta data ([[repairDelta]],
  //     [[recoverStore]] run at their entry).
  //   - searchWithDelta / deltaFraction are READ ops: they classify
  //     already-folded delta data as dead and EXCLUDE it, but never
  //     delete — two concurrent readers can never race a delete against
  //     a scan. No carve-outs: live delta data is never relocated (each
  //     stream epoch owns its own `eid=` subtree, so an epoch switch
  //     writes beside the old stream's batches instead of moving them),
  //     and dead data deleted by maintenance has been excluded by every
  //     read since the fold marker that classified it appeared.

  /** Test-only fault injection: every fs-visible boundary inside the
    * maintenance ops calls [[crashPoint]] with a stable name, and the
    * crash-point property spec swaps in a hook that THROWS at a chosen
    * point — simulating the process dying exactly there. The recovery
    * contract under test: whatever the boundary, the next maintenance
    * entry (recoverStore + repairDelta + the replay rules) restores a
    * store whose serve set is exactly the acknowledged rows. Production
    * value is a no-op; the call sites double as documentation of the
    * crash windows. [[searchIvfListMajorTo]]'s staged merge has one
    * too, so a spec can fail it between staging and merge. */
  @volatile private[index] var crashHook: String => Unit = _ => ()

  private[index] def crashPoint(name: String): Unit = crashHook(name)

  /** Sibling dataset holding not-yet-indexed rows (plain (id, vec)
    * parquet) — `<path>.delta`, NOT a subdirectory, so reading the main
    * store never mixes schemas. Three committed layouts coexist: flat
    * part files at the root (batch [[appendDelta]]/[[replaceDelta]]),
    * root `bid=<batchId>` subdirectories ([[appendDeltaBatch]] without
    * an epoch, and stores written before epochs were dir-scoped), and
    * `eid=<epoch>/bid=<batchId>` subtrees (the streaming form — one dir
    * per micro-batch so at-least-once replays overwrite instead of
    * double-appending, one subtree per stream EPOCH so a restarted
    * stream's bid counter can never collide with a previous stream's
    * acknowledged batches). */
  def deltaPath(path: String): String = path.stripSuffix("/") + ".delta"

  private val foldMarkerName = "_folded_delta"

  /** What a compaction folded: a fingerprint of the flat part files it
    * consumed ("-" when there were none), the highest ROOT-layout
    * micro-batch id it consumed (-1 when there were none) with the
    * stream EPOCH those root batches belonged to (the ingesting
    * writer's checkpoint identity — see [[appendDeltaBatch]]; "-" when
    * unknown), and a per-epoch watermark map for the epoch-scoped
    * `eid=` layout (`eids=<token>:<maxbid>,…`). Stored in the promoted
    * generation as [[foldMarkerName]], read through [[resolveStore]];
    * the legacy single-line form (a whole-delta-dir fingerprint) is
    * still read. Retired epochs keep their map entries forever — a
    * moved-checkpoint late replay of a folded batch must still skip —
    * bounded by the number of stream redeployments, not data size. */
  private case class FoldMarker(flatFp: Option[String], maxBid: Long,
      legacyFp: Option[String], epoch: Option[String] = None,
      eids: Map[String, Long] = Map.empty)

  private def readFoldMarker(path: String): Option[FoldMarker] = {
    val marker = new java.io.File(resolveStore(path), foldMarkerName)
    if (!marker.exists()) return None
    val lines = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    if (lines.headOption.contains("v2")) {
      val kv = lines.drop(1).flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
      }.toMap
      Some(FoldMarker(
        kv.get("flatfp").filter(_ != "-"),
        kv.get("maxbid").map(_.toLong).getOrElse(-1L),
        legacyFp = None,
        epoch = kv.get("epoch").filter(_ != "-"),
        eids = kv.get("eids").filter(_ != "-").map(_.split(",").iterator.flatMap { p =>
          p.split(":", 2) match {
            case Array(t, b) => scala.util.Try(t -> b.toLong).toOption
            case _           => None
          }
        }.toMap).getOrElse(Map.empty)))
    } else lines.headOption.map(fp => FoldMarker(None, -1L, legacyFp = Some(fp)))
  }

  private def writeFoldMarker(dir: java.io.File, flatFp: String,
      maxBid: Long, epoch: Option[String],
      eids: Map[String, Long] = Map.empty): Unit = {
    val eidLine =
      if (eids.isEmpty) "-"
      else eids.toSeq.sorted.map { case (t, b) => s"$t:$b" }.mkString(",")
    java.nio.file.Files.write(
      new java.io.File(dir, foldMarkerName).toPath,
      (s"v2\nflatfp=$flatFp\nmaxbid=$maxBid\nepoch=${epoch.getOrElse("-")}\n" +
        s"eids=$eidLine\n").getBytes("UTF-8"))
  }

  /** Filesystem-safe form of a stream epoch: the `eid=` dir name and
    * the marker map key. One definition, so the append and fold sides
    * cannot drift. A checkpoint query id is UUID-shaped and passes
    * through unchanged; an epoch that NEEDS sanitizing (the
    * missing-metadata fallback is a filesystem path) gets a short hash
    * of the raw value appended, because plain character replacement is
    * lossy — '/a/b' and '/a_b' would otherwise collide into one token
    * and SHARE a fold watermark and `eid=` subtree, silently skipping
    * one stream's batches against the other's high-water mark. */
  private def epochToken(e: String): String = {
    val safe = e.replaceAll("[^A-Za-z0-9._-]", "_")
    if (safe == e) e
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(e.getBytes("UTF-8"))
      safe + "-" + md.take(4).map(b => f"$b%02x").mkString
    }
  }

  /** The ROOT-layout bid dirs' stream epoch — written by the
    * pre-epoch-scoped [[appendDeltaBatch]] beside its root `bid=` dirs,
    * still read so a legacy store's root batches keep their owner (the
    * epoch-scoped layout needs no such file: the `eid=` dir name IS the
    * attribution). `_`-prefixed, so invisible to flat fingerprints and
    * committed-file listings. private[index]: specs that fabricate
    * legacy root-bid state must share the one name. */
  private[index] val streamEpochName = "_stream_epoch"

  private def readStreamEpoch(path: String): Option[String] = {
    val f = new java.io.File(deltaPath(path), streamEpochName)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
      .filter(_.nonEmpty)
  }

  /** Only COMMITTED data counts (`_SUCCESS` written at job commit): a
    * crashed/in-flight write is invisible rather than failing the read
    * or serving partial rows. */
  private def committedFlatFiles(path: String): Seq[java.io.File] = {
    val root = new java.io.File(deltaPath(path))
    if (!new java.io.File(root, "_SUCCESS").exists()) return Nil
    root.listFiles().toSeq.filter(f => f.isFile &&
      f.getName.endsWith(".parquet") &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def committedBids(path: String): Seq[(Long, java.io.File)] = {
    val root = new java.io.File(deltaPath(path))
    if (!root.isDirectory) return Nil
    root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("bid=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("bid=").toLong)
        .toOption.map(_ -> f))
      .sortBy(_._1)
  }

  /** Committed micro-batch dirs of the epoch-scoped layout:
    * `eid=<token>/bid=<n>`. Each stream epoch owns its own subtree, so
    * a restarted stream whose batch counter begins again at 0 writes
    * BESIDE the old stream's checkpoint-acknowledged batches — nothing
    * is demoted, relocated, or overwritten at an epoch switch (the
    * previous layout moved the old epoch's part files to the flat root
    * one rename at a time; a read racing that move could observe a
    * partial delta — window gone). */
  private def committedEidBids(path: String): Seq[(String, Long, java.io.File)] = {
    val root = new java.io.File(deltaPath(path))
    if (!root.isDirectory) return Nil
    Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(d => d.isDirectory && d.getName.startsWith("eid="))
      .flatMap { ed =>
        val tok = ed.getName.stripPrefix("eid=")
        Option(ed.listFiles()).map(_.toSeq).getOrElse(Nil)
          .filter(b => b.isDirectory && b.getName.startsWith("bid=") &&
            new java.io.File(b, "_SUCCESS").exists())
          .flatMap(b => scala.util.Try(b.getName.stripPrefix("bid=").toLong)
            .toOption.map(bid => (tok, bid, b)))
      }
      .sortBy(t => (t._1, t._2))
  }

  /** Fingerprint of the delta's FLAT part files only (bid dirs have
    * their own watermark), non-recursive — pairs with the `flatfp`
    * marker line. */
  private def flatFp(spark: SparkSession, path: String): String =
    graft.sources.ParquetMeta.fingerprint(spark, deltaPath(path), recursive = false)

  /** LIVE delta read roots — committed data the fold marker does NOT
    * record as already folded into the main graphs. Flat files are
    * returned individually (the root dir may also hold bid= subdirs,
    * which a directory read would misparse as a partition column).
    * Pure function of the on-disk state: read paths never delete. */
  private def liveDeltaRoots(spark: SparkSession, path: String): Seq[String] = {
    val flat = committedFlatFiles(path)
    val bids = committedBids(path)
    val eids = committedEidBids(path)
    if (flat.isEmpty && bids.isEmpty && eids.isEmpty) return Nil
    readFoldMarker(path) match {
      case None =>
        (flat ++ bids.map(_._2) ++ eids.map(_._3)).map(_.toString)
      case Some(m) if m.legacyFp.isDefined =>
        // legacy marker: whole-dir identity — all-or-nothing (epoch
        // subtrees postdate legacy markers, so a matching fingerprint
        // implies there are none)
        if (m.legacyFp.contains(
            graft.sources.ParquetMeta.fingerprint(spark, deltaPath(path)))) Nil
        else (flat ++ bids.map(_._2) ++ eids.map(_._3)).map(_.toString)
      case Some(m) =>
        val liveFlat =
          if (flat.isEmpty || m.flatFp.contains(flatFp(spark, path))) Nil else flat
        val liveBids = bids.filter(_._1 > m.maxBid).map(_._2)
        val liveEids = eids.filter { case (t, b, _) =>
          b > m.eids.getOrElse(t, -1L)
        }.map(_._3)
        (liveFlat ++ liveBids ++ liveEids).map(_.toString)
    }
  }

  /** The live delta rows, if any. */
  private def readDelta(spark: SparkSession, path: String): Option[DataFrame] = {
    val roots = liveDeltaRoots(spark, path)
    if (roots.isEmpty) None
    else Some(spark.read.parquet(roots: _*)
      .select(col("id").cast("long"), col("vec")))
  }

  /** MAINTENANCE-side repair: physically delete delta data the fold
    * marker records as already folded — the crash window of
    * [[compactDelta]] between the store promote and the delta delete
    * would otherwise (a) serve every folded id twice and (b) fold it a
    * SECOND time. Runs at the top of every maintenance op (append /
    * replace / compact), so a stale folded delta is gone BEFORE any new
    * rows land beside it — new appends can never blend into a stale
    * generation and defeat the marker comparison. Read paths only
    * exclude ([[liveDeltaRoots]]); this is the one place that deletes. */
  private def repairDelta(spark: SparkSession, path: String): Unit = {
    val root = new java.io.File(deltaPath(path))
    if (!root.exists()) return
    readFoldMarker(path).foreach { m =>
      if (m.legacyFp.isDefined) {
        if (m.legacyFp.contains(
            graft.sources.ParquetMeta.fingerprint(spark, deltaPath(path))))
          deleteCommittedDataset(root)
      } else {
        // delete ORDER matters against racing readers in every branch
        // below: the `_SUCCESS` commit marker dies FIRST, so the
        // listing protocols (committedFlatFiles / committedBids /
        // committedEidBids, all gated on the marker) see the dataset
        // vanish atomically — a file-by-file delete under a standing
        // marker would let a reader fingerprint the partially-deleted
        // flat set (mismatch → the folded remainder flips back to
        // "live" and is served as duplicates of rows already in the
        // graphs), or list a bid dir whose part files are half gone
        val flat = committedFlatFiles(path)
        if (flat.nonEmpty && m.flatFp.contains(flatFp(spark, path))) {
          deleteRecursively(new java.io.File(root, "_SUCCESS"))
          flat.foreach(deleteRecursively)
        }
        committedBids(path).filter(_._1 <= m.maxBid)
          .foreach(b => deleteCommittedDataset(b._2))
        committedEidBids(path)
          .filter { case (t, b, _) => b <= m.eids.getOrElse(t, -1L) }
          .foreach(e => deleteCommittedDataset(e._3))
        // an epoch dir emptied of its batches is gone (an UNcommitted
        // bid= child — an in-flight write — blocks the delete; its
        // replay will overwrite it)
        Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
          .filter(d => d.isDirectory && d.getName.startsWith("eid=") &&
            Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
              .forall(c => !(c.isDirectory && c.getName.startsWith("bid="))))
          .foreach(deleteRecursively)
      }
      val left = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      if (left.forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")))
        deleteRecursively(root)
    }
  }

  /** Remove everything at the delta ROOT that is not a micro-batch dir
    * (`bid=` root-layout or `eid=` epoch-scoped) or the stream-epoch
    * file — [[replaceDelta]]'s pre-write sweep. What it removes is
    * either uncommitted (part files with no surviving `_SUCCESS`,
    * `_temporary` job-attempt dirs) or about to be rewritten. */
  private def sweepUncommittedRoot(root: java.io.File): Unit =
    Option(root.listFiles()).foreach(_.foreach { f =>
      if (f.getName != streamEpochName &&
          (f.isFile ||
            !(f.getName.startsWith("bid=") || f.getName.startsWith("eid="))))
        deleteRecursively(f)
    })

  /** Roll a half-completed PRE-GENERATION [[compactDelta]] swap forward
    * or back: the old layout's rename swap could die between its two
    * renames, leaving nothing at `path` ('.old' holds the previous
    * store, '.compact' may hold a complete rebuilt one) — with no
    * repair, every later read or compaction fails on the missing store
    * and nothing ever restores it. A complete '.compact' wins (roll
    * FORWARD — it already contains the folded delta and carries the
    * fold marker); otherwise a complete '.old' is restored (roll BACK —
    * the fold never happened). The generation layout has no such
    * window (its commit is one atomic manifest rename), so this is
    * pure legacy recovery for stores last compacted by the old code;
    * it still runs at maintenance entry points (same single-writer
    * contract as [[repairDelta]]). */
  private def recoverStore(path: String): Unit = {
    val store = new java.io.File(path.stripSuffix("/"))
    // a healthy store: flat layout with its job-commit marker, or a
    // generation layout (whose root never carries _SUCCESS — the data
    // dir inside does). Either way the legacy half-swap repair must
    // not touch it: stale '.compact'/'.old' siblings beside a healthy
    // store are dead, deleted by compactDelta, never promoted.
    if (new java.io.File(store, manifestName).exists() ||
        new java.io.File(store, "_SUCCESS").exists()) return
    val compact = new java.io.File(path.stripSuffix("/") + ".compact")
    val old = new java.io.File(path.stripSuffix("/") + ".old")
    if (new java.io.File(compact, "_SUCCESS").exists()) {
      deleteRecursively(store)
      require(compact.renameTo(store), s"recover: cannot promote $compact")
      deleteRecursively(old)
    } else if (new java.io.File(old, "_SUCCESS").exists()) {
      deleteRecursively(compact)
      deleteRecursively(store)
      require(old.renameTo(store), s"recover: cannot restore $old")
    }
  }

  /** Append new vectors to a stored index WITHOUT rebuilding its
    * graphs — the LSM pattern for continuously-ingested corpora
    * (Fresh-DiskANN's immutable main + mutable delta): graph builds
    * are the expensive operation (minutes per million rows), so
    * between-batch inserts accumulate as plain parquet rows that
    * [[searchWithDelta]] scans EXACTLY, and [[compactDelta]] folds
    * into rebuilt graphs once [[deltaFraction]] crosses a threshold —
    * amortized-O(1) index maintenance with zero recall loss from
    * staleness (the delta side is brute-force, recall 1.0 by
    * construction).
    *
    * Each append lands in its OWN batch dir under the RESERVED batch
    * epoch (`eid=_batch/bid=<next>`), never as loose flat files: a
    * `mode(append)` into the flat root would move this job's part
    * files into place one rename at a time UNDER the previous append's
    * still-standing `_SUCCESS`, so a racing read could list part of an
    * uncommitted batch as committed. A batch dir is gated by its own
    * `_SUCCESS` (written last), so it becomes visible all-or-nothing.
    * The reserved epoch keeps auto-assigned ids out of the ROOT `bid=`
    * namespace: an auto-bid there could equal an ingesting stream's
    * NEXT batch id, whose overwrite would silently destroy the
    * appended rows — per-epoch subtrees and watermarks make the two id
    * spaces disjoint by construction ("_batch" is unreachable by real
    * epochs: query ids are UUIDs and a sanitized path fallback always
    * carries a hash suffix). Crash-before-commit replays clean (the
    * uncommitted dir is invisible and the retry recomputes the same
    * id and overwrites it); a COMMITTED append rerun by a retrying
    * script still doubles its rows — such writers use [[replaceDelta]]
    * (which sweeps this epoch) or the explicit-id [[appendDeltaBatch]].
    *
    * SINGLE-APPENDER CONTRACT: the auto-bid is read-compute-write
    * (list committed bids → max+1 → mode(overwrite)), so two appenders
    * running CONCURRENTLY against the same store can compute the same
    * bid and one silently overwrites the other's rows. Sequential
    * appends from any number of writers are fine (each sees the
    * previous commit); concurrent writers must coordinate externally
    * or use [[appendDeltaBatch]] with caller-assigned disjoint
    * (epoch, batchId) pairs, which collide only if the caller's own id
    * assignment does. This matches the store's wider single-writer
    * maintenance contract (compact/repair/tune). */
  private[index] val batchEpochToken = "_batch"

  def appendDelta(delta: DataFrame, path: String): Unit = {
    recoverStore(path)
    repairDelta(delta.sparkSession, path)
    val wm = readFoldMarker(path).filter(_.legacyFp.isEmpty)
      .map(_.eids.getOrElse(batchEpochToken, -1L)).getOrElse(-1L)
    val nextBid = committedEidBids(path)
      .collect { case (t, b, _) if t == batchEpochToken => b }
      .foldLeft(wm)(math.max) + 1
    delta.select(col("id").cast("long"), col("vec"))
      .write.mode("overwrite")
      .parquet(s"${deltaPath(path)}/eid=$batchEpochToken/bid=$nextBid")
  }

  /** Idempotent form for build scripts that may retry: REPLACE the
    * delta's FLAT layout instead of appending (a crashed-and-rerun
    * `appendDelta` would double its rows). Committed micro-batch dirs
    * of REAL stream epochs (`bid=` root-layout or `eid=` epoch-scoped)
    * are a STREAM's not-yet-folded rows and survive — a whole-dir
    * overwrite would silently lose them (their checkpoints have
    * committed, so the stream never replays them). The reserved
    * `eid=_batch` subtree is DIFFERENT: it holds [[appendDelta]]'s
    * auto-id batches, which are script-owned with no checkpoint behind
    * them — and this method is the documented retry remedy for exactly
    * those scripts, so an appended-then-crashed writer that reruns via
    * replaceDelta must not keep its earlier committed append alive
    * beside the replacement (duplicate rows, no error). It is swept
    * with the flat layer. Crash-safe the same way as before: a write
    * that dies mid-job leaves part files with no root `_SUCCESS`
    * (invisible to reads), and the retry's file-level sweep below
    * removes them before rewriting. */
  def replaceDelta(delta: DataFrame, path: String): Unit = {
    recoverStore(path)
    repairDelta(delta.sparkSession, path)
    val root = new java.io.File(deltaPath(path))
    // sweep root FILES and any _temporary job-attempt dir — a crashed
    // write's committed task outputs under _temporary would otherwise
    // be merged into the retry's commitJob (the committer commits ALL
    // on-disk task dirs of the attempt path), duplicating rows. bid=/
    // eid= dirs (the stream's rows) and the epoch file survive —
    // except the script-owned eid=_batch subtree (see scaladoc).
    sweepUncommittedRoot(root)
    val batchDir = new java.io.File(root, s"eid=$batchEpochToken")
    // the sweep is the documented retry remedy, but it is also a
    // BEHAVIOR CHANGE vs pre-r12 releases (which preserved appended
    // batches) — a caller who mixed appendDelta-committed rows with a
    // later replaceDelta refresh loses them here BY DESIGN, so say so
    // loudly instead of silently (README "Upgrade notes" records the
    // change; this line makes the individual occurrence visible)
    if (Option(batchDir.list()).exists(_.exists(_.startsWith("bid=")))) {
      System.err.println(s"[graft] replaceDelta($path): sweeping " +
        s"committed appendDelta batches under eid=$batchEpochToken — " +
        "replaceDelta REPLACES the script-owned delta layer (retry " +
        "remedy); use appendDeltaBatch with caller-assigned ids if " +
        "those rows were meant to survive a refresh")
    }
    deleteRecursively(batchDir)
    crashPoint("replace.swept")
    delta.select(col("id").cast("long"), col("vec"))
      .write.mode("append").parquet(deltaPath(path))
  }

  /** Exactly-once-effective streaming append: micro-batch `batchId`
    * lands in its own `eid=<epoch>/bid=<batchId>` subdirectory with
    * OVERWRITE mode, so foreachBatch's at-least-once replay (crash
    * after the parquet commit, before the checkpoint commit) rewrites
    * the same rows instead of double-appending them. A batch AT its
    * epoch's fold watermark is skipped outright: its rows were folded
    * into the main graphs by a compaction the crash happened to
    * straddle — appending them again would serve and re-fold every row
    * twice. Only the watermark batch can legitimately replay
    * (checkpoints commit in batch order, so every lower bid's
    * checkpoint committed before a higher bid could exist); a batchId
    * STRICTLY below its epoch's watermark fails loudly (impossible for
    * a real replay, and a silent skip or append would lose data).
    *
    * `epoch` identifies the ingesting STREAM, not its batch counter:
    * the streaming writer derives it from the checkpoint's persistent
    * query id ([[graft.streaming.StreamingKnn.checkpointEpoch]]) — the
    * id survives a checkpoint directory being MOVED (a moved checkpoint
    * is the same stream and must still replay-skip, not reset) and is
    * regenerated when the contents are cleared (a genuinely new stream
    * even at the same path). Because every epoch owns its own `eid=`
    * subtree and its own watermark in the fold marker's map, a NEW
    * stream whose batch ids restart at 0 simply writes BESIDE the old
    * stream's committed-but-unfolded batches: nothing is demoted,
    * relocated, or watermark-reset (the previous layout moved the old
    * epoch's part files to the flat root at switch time — a read racing
    * that move could observe a partial delta; that window is gone).
    * The old epoch's batches stay live until a fold consumes them, and
    * its watermark entry outlives the fold so a late replay still
    * skips.
    *
    * Without an epoch (batch callers), the batch lands in a ROOT
    * `bid=` dir under the r10 single-watermark semantics — unchanged.
    *
    * Legacy bridge: root `bid=` dirs written by the pre-epoch-scoped
    * streaming layout keep serving and folding under the root
    * watermark, attributed to the stream the `_stream_epoch` file (or
    * the last fold) recorded; a same-epoch replay of such a batch
    * deletes the root copy before writing the epoch-scoped one, so its
    * rows exist exactly once (a crash between the two re-replays: the
    * batch's checkpoint cannot have committed, or it would not be
    * replaying). */
  def appendDeltaBatch(delta: DataFrame, path: String, batchId: Long,
      epoch: Option[String] = None): Unit = {
    recoverStore(path)
    val spark = delta.sparkSession
    repairDelta(spark, path)
    val marker = readFoldMarker(path).filter(_.legacyFp.isEmpty)
    def failBelow(wm: Long): Unit =
      throw new IllegalStateException(
        s"appendDeltaBatch($path, batchId=$batchId): below the fold " +
          s"watermark $wm with no stream-epoch change — this " +
          "stream appears restarted from a cleared checkpoint; its " +
          "batch ids would collide with already-folded ones and be " +
          "served never or twice. Use a fresh store path or a fresh " +
          "checkpoint location (a new epoch has its own watermark); " +
          s"if reuse is intended, delete the store's $foldMarkerName.")
    val target = epoch match {
      case None =>
        if (marker.exists(_.maxBid == batchId)) return
        marker.foreach(m => if (batchId < m.maxBid) failBelow(m.maxBid))
        s"${deltaPath(path)}/bid=$batchId"
      case Some(e) =>
        // root-layout bids (legacy streaming layout) belong to the
        // stream the epoch file or the last fold recorded; their single
        // watermark governs THIS stream only when the epochs match
        val rootEpoch = marker.flatMap(_.epoch).orElse(readStreamEpoch(path))
        if (rootEpoch.contains(e)) {
          if (marker.exists(_.maxBid == batchId)) return
          marker.foreach(m => if (batchId < m.maxBid) failBelow(m.maxBid))
          committedBids(path).find(_._1 == batchId).foreach { case (_, d) =>
            deleteRecursively(d)
            crashPoint("append.root_replay_cleared")
          }
        }
        val tok = epochToken(e)
        require(tok != batchEpochToken,
          s"appendDeltaBatch: epoch '$e' collides with the reserved batch " +
            "namespace — pass a checkpoint-derived epoch")
        // NO legacy-token bridge, deliberately: before tokens were made
        // injective, a sanitize-needing epoch's watermark was keyed by
        // the LOSSY character-replaced form — but that key can belong
        // to a DIFFERENT stream (two paths lossy-colliding is the very
        // bug injectivity fixed), so consulting it here could silently
        // discard another stream's batches against a watermark it never
        // earned. The residual exposure is upgrade-window-only and the
        // safe direction: a lossy-keyed folded batch replayed by a
        // moved checkpoint lands under the new token as a live batch
        // (duplicate rows served until the delta is cleared — compact
        // stores written by the interim lossy-token build BEFORE
        // upgrading, which empties the delta and removes the case).
        val wm = marker.map(_.eids.getOrElse(tok, -1L)).getOrElse(-1L)
        if (batchId == wm) return
        if (batchId < wm) failBelow(wm)
        s"${deltaPath(path)}/eid=$tok/bid=$batchId"
    }
    delta.select(col("id").cast("long"), col("vec"))
      .write.mode("overwrite").parquet(target)
  }

  // Indexed-row counts per (resolved data dir, version token): the
  // count is a full `sum(size(ids))` scan of the graph store, and a
  // streaming ingest calls deltaFraction after EVERY micro-batch while
  // the indexed generation only changes at a fold — uncached, that is
  // one whole-store scan per batch at any scale (r15; the gate stream
  // query paid the job twice per run). Same invalidation rule as the
  // centroid cache: generation dirs are immutable, rebuilds re-stamp
  // `_store_version`; unstamped stores skip the cache, and the entry
  // is only stored when the token is unchanged after the scan
  // (load-validate-store — an in-place rebuild racing the read must
  // not pin its row count under the old token).
  private val indexedRowsCache =
    new java.util.LinkedHashMap[(String, String), java.lang.Long](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Long]): Boolean =
        size() > 64
    }

  /** delta rows ÷ indexed rows — the compaction trigger. Delta count
    * comes from parquet footers (no job); the indexed count is one
    * aggregate over the B bucket rows (sums `size(ids)` — B is tens of
    * rows by construction, so this is a driver-trivial job), cached
    * per immutable store generation. Read-only: folded leftovers are
    * excluded, not deleted. */
  def deltaFraction(spark: SparkSession, path: String): Double = {
    val delta = liveDeltaRows(spark, path)
    if (delta == 0) return 0.0
    def countIndexed(dir: String): Long =
      // coalesce: sum over a ZERO-row store (a valid empty build that a
      // stream is bootstrapping) is NULL, and getLong would NPE before
      // the infinity guard could fire
      storeFrame(spark, dir)
        .agg(coalesce(sum(size(col("ids"))), lit(0L))).head().getLong(0)
    val dir = resolveStore(path)
    val indexed = versionAt(dir) match {
      case None => countIndexed(dir)
      case Some(v) =>
        val key = (dir, v)
        val hit = indexedRowsCache.synchronized(indexedRowsCache.get(key))
        if (hit != null) hit.longValue()
        else {
          val n = countIndexed(dir)
          if (versionAt(dir).contains(v))
            indexedRowsCache.synchronized(indexedRowsCache.put(key, n))
          n
        }
    }
    if (indexed == 0) Double.PositiveInfinity else delta.toDouble / indexed
  }

  /** Row count of the LIVE delta (folded leftovers excluded) — parquet
    * footer counts, no job. Read-only like [[deltaFraction]]. */
  def liveDeltaRows(spark: SparkSession, path: String): Long =
    liveDeltaRoots(spark, path)
      .map(graft.sources.ParquetMeta.rowCount(spark, _)).sum

  /** The range arms refuse a store whose aligned attrs are the 0.0
    * placeholder (built without attrCol): [[buildBy]] stamps `attr_col`
    * for exactly this check (its own comment cites ADVICE r2), but only
    * the SQL route applied it — the batch arms would silently answer
    * range predicates against all-zero attrs (empty results for ranges
    * missing 0, unfiltered for ranges containing it). Pre-stamp legacy
    * stores (no column) are let through unchanged. The verdict is
    * cached per RESOLVED data dir (immutable once flipped), so repeated
    * range calls don't pay a driver job to re-read a constant cell;
    * failures are never cached — they keep throwing per call. */
  private val attrStampOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def requireAttrStamped(spark: SparkSession, path: String,
      arm: String): Unit = {
    val dir = resolveStore(path)
    // keyed by (dir, write-time version): an in-place rebuild bumps the
    // token (file read, no job), so a store rebuilt WITHOUT attrCol
    // after a stamped check re-checks instead of serving the stale pass
    val ver = versionAt(dir)
    val key = dir + "@" + ver.getOrElse("-")
    if (attrStampOk.contains(key)) return
    val df = storeFrame(spark, dir, ver)
    if (df.columns.contains("attr_col")) {
      val row = df.select("attr_col").limit(1).collect()
      require(row.isEmpty || row(0).getString(0) != null,
        s"$arm($path): store was built WITHOUT attrCol — its aligned " +
          "attrs are the 0.0 placeholder and cannot answer range " +
          "predicates; rebuild with buildBy(..., attrCol = Some(<ts column>))")
    }
    attrStampOk.add(key)
  }

  /** Search the main graphs AND the delta in one plan: graph walks over
    * the stored sub-indexes union an exact broadcast-scan of the delta
    * rows ([[graft.functions.VectorFunctions.l2Sq]] codegen — the same
    * arithmetic as the exact kNN join), merged by a single bounded
    * top-k. Newly appended rows are searchable immediately, at exact
    * recall, without touching a graph. Read-only: folded leftovers are
    * excluded, not deleted. */
  def searchWithDelta(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, ef: Int = 200): DataFrame = {
    import spark.implicits._
    val qBatch = queries.select(col("qid").cast("long"), col("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (qBatch.isEmpty)
      return spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
    val main = rawSearchBatch(spark, path, qBatch, k, ef)
    val all = readDelta(spark, path) match {
      case None => main
      case Some(delta) =>
        val qDf = broadcast(qBatch.toIndexedSeq.toDF("qid", "qvec"))
        val deltaRaw = qDf.crossJoin(delta)
          .select(col("qid"), col("id"),
            graft.functions.VectorFunctions.l2Sq(col("qvec"), col("vec")).as("dist"))
        main.unionByName(deltaRaw)
    }
    rankTopK(all, k)
  }

  /** Fold the delta into rebuilt graphs and clear it. Self-contained:
    * the stored graphs carry their vectors, so compaction reads them
    * back out ([[HnswIndex.vectorOf]]) and never needs the original
    * base table — at 100 TB the archived corpus is not re-scanned to
    * maintain its index. The rebuilt store lands as a NEW GENERATION
    * dir inside the store root and commits with ONE atomic `_manifest`
    * rename — readers see the previous generation or the new one,
    * never an absent store (the old two-rename swap had exactly that
    * window: repaired after a crash by [[recoverStore]], but still
    * observable by a racing read). Crash-idempotent end to end: entry
    * runs [[recoverStore]] (legacy half-swaps) + [[gcStaleGens]] +
    * [[repairDelta]]; a generation built but never flipped is an
    * unreferenced orphan the next compaction entry GCs; the new
    * generation carries a marker recording what it folded (flat-file
    * fingerprint + root watermark + per-epoch watermark map), so dying
    * between the flip and the delta delete leaves a leftover the
    * marker classifies dead — never served, never folded twice.
    * Maintenance is single-writer by contract; the superseded
    * generation survives until the NEXT compaction entry, so a reader
    * that resolved it just before the flip keeps a full inter-fold
    * interval to finish its scan — appends never GC generations. */
  def compactDelta(spark: SparkSession, path: String, numBuckets: Int,
      m: Int = 16, efConstruction: Int = 200): Unit = {
    import spark.implicits._
    recoverStore(path)
    gcStaleGens(path)
    // dead siblings of the pre-generation swap layout: recoverStore
    // already rolled a genuine half-swap forward or back, so whatever
    // remains beside a healthy store is a crashed attempt's leftover
    deleteRecursively(new java.io.File(path.stripSuffix("/") + ".compact"))
    deleteRecursively(new java.io.File(path.stripSuffix("/") + ".old"))
    repairDelta(spark, path)
    // the entry-time sweep (stale-generation GC + legacy-sibling
    // deletes + delta repair) is itself a crash window: dying here
    // must leave the live generation fully served
    crashPoint("compact.entry_swept")
    val hadFlat = committedFlatFiles(path).nonEmpty
    // carry the PREVIOUS fold's watermarks forward: a compaction that
    // sees no (or lower) live bids must not regress a watermark — a
    // regressed one lets an at-least-once replay of the highest
    // already-folded batch slip past appendDeltaBatch's skip check and
    // re-append rows the graphs already contain (served and folded
    // twice). The previous marker's bids were deleted by repairDelta
    // above, so the committed listings only see the NEW generation.
    val prevMarker = readFoldMarker(path).filter(_.legacyFp.isEmpty)
    val prevMaxBid = prevMarker.map(_.maxBid).getOrElse(-1L)
    val maxBid = committedBids(path).map(_._1).foldLeft(prevMaxBid)(math.max)
    // the folded ROOT bids' stream epoch: the delta's epoch file when a
    // legacy-layout stream is ingesting, else whatever the previous
    // fold recorded (epoch-scoped batches carry their own attribution)
    val foldedEpoch = readStreamEpoch(path).orElse(prevMarker.flatMap(_.epoch))
    val prevEids = prevMarker.map(_.eids).getOrElse(Map.empty[String, Long])
    val curEids = committedEidBids(path).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).max }
    val eids = (prevEids.keySet ++ curEids.keySet).iterator
      .map(t => t -> math.max(prevEids.getOrElse(t, -1L), curEids.getOrElse(t, -1L)))
      .toMap
    val foldedFlatFp = if (hadFlat) flatFp(spark, path) else "-"
    val root = new java.io.File(path.stripSuffix("/"))
    val fromGraphs = spark.read.parquet(resolveStore(path))
      .select(col("ids"), col("graph"))
      .as[(Array[Long], Array[Byte])]
      .flatMap { case (ids, g) =>
        val idx = HnswIndex.fromBytes(g)
        ids.indices.iterator.map(i => (ids(i), idx.vectorOf(i)))
      }
      .toDF("id", "vec")
    val all = readDelta(spark, path) match {
      case None        => fromGraphs
      case Some(delta) => fromGraphs.unionByName(delta)
    }
    val genName = nextGenName(root.getPath)
    build(all, s"${root.getPath}/$genName", numBuckets, m, efConstruction)
    crashPoint("compact.built")
    if (hadFlat || maxBid >= 0 || eids.nonEmpty)
      writeFoldMarker(new java.io.File(root, genName), foldedFlatFp, maxBid,
        foldedEpoch, eids)
    crashPoint("compact.marked")
    flipManifest(root, genName)
    crashPoint("compact.flipped")
    // delete exactly what the new marker says was folded (an in-flight
    // uncommitted micro-batch dir, if the single-writer contract were
    // ever stretched, is left for its replay to overwrite); the
    // superseded generation itself waits for the next compaction entry
    repairDelta(spark, path)
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.sources.ParquetMeta.deleteRecursively(f)

  /** Delete a committed dataset tree so a RACING reader never observes
    * a partial commit: every `_SUCCESS` marker in the tree dies first
    * (the listing protocols gate on them, so each dataset flips from
    * committed to invisible in one unlink), then the data. */
  private def deleteCommittedDataset(f: java.io.File): Unit = {
    def killMarkers(d: java.io.File): Unit =
      if (d.isDirectory)
        Option(d.listFiles()).foreach(_.foreach { c =>
          if (c.getName == "_SUCCESS") c.delete() else killMarkers(c)
        })
    killMarkers(f)
    deleteRecursively(f)
  }
}
