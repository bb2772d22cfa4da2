package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ONE definition of the query packs' derived-store addressing AND
  * the shared stores' build parameters.
  *
  * Addressing: tag = [[graft.sources.ParquetMeta.storeTag]] over the
  * embeddings table (sanitized dir_table + "_" + source-generation
  * fingerprint) — delegated, not re-implemented, so the GC machinery's
  * tag-parsing assumptions ([[graft.sources.ParquetMeta.gcSiblingTags]])
  * are validated against exactly one format. A regenerated corpus can
  * never hit a stale layout or index store (the trustIndex serving mode
  * relies on this), and resolution GCs superseded generations at
  * materialization ([[graft.sources.ParquetMeta.resolveTagged]]).
  *
  * Builds: ServingBench and the ann_sql_* gate queries serve from the
  * SAME tagged store paths — whichever runs first materializes the
  * store for both, so the build parameters (nlist here, the three
  * type stores' in [[graft.index.TypeStores]]) must live in one place:
  * two drifted copies would silently measure — or serve — an index
  * built with the other side's parameters, with no error. */
private[graft] object StorePaths {

  def storeTag(s: SparkSession, dir: String): String =
    graft.sources.ParquetMeta.storeTag(s, dir, "embeddings")

  def taggedPath(s: SparkSession, parent: String, dir: String): String = {
    val tag = storeTag(s, dir)
    // the legacy sweep runs ONLY at new-store materialization — the
    // same deletes-at-materialization / pure-reads-otherwise split as
    // resolveTagged (an unconditional sweep would pay a listFiles per
    // query forever AND could race a mid-upgrade machine's old-build
    // process — e.g. delete a live legacy .delta while its companion
    // store is transiently absent during an overwrite-rebuild). The
    // materialized-dir check mirrors resolveTagged's own gate — keep
    // the two in lockstep if 'materialized' ever changes meaning.
    if (!new java.io.File(parent, tag).isDirectory) gcLegacyTags(parent, dir)
    graft.sources.ParquetMeta.resolveTagged(parent, tag)
  }

  /** One-time reclamation of stores tagged under the pre-unification
    * format (`<sanitized dir>-<fp>`, plus their `.delta` sibling
    * datasets — [[graft.index.AnnIndexStore.deltaPath]] appends the
    * suffix, and `gcSiblingTags` needed the same second pass): the new
    * `ParquetMeta.storeTag` format shares no prefix with the old one,
    * so the standard sibling-GC would never sweep the old generations
    * — full index-store copies leaking under /tmp forever on machines
    * that ran the older builds. Matches the exact legacy shapes only
    * (old sanitized dir + '-' + a trailing fingerprint-shaped hex run,
    * optionally + ".delta"). Runs at materialization only, so legacy
    * leftovers on a machine whose tag dir already exists persist until
    * the corpus next regenerates (on a static-corpus machine: until
    * /tmp is cleared) — an accepted narrowing: sweeping them from the
    * per-query read path could race a still-serving old-build process
    * mid-rebuild, and a leaked dir is disk, not correctness. */
  private def gcLegacyTags(parent: String, dir: String): Unit = {
    val legacyPrefix = dir.replaceAll("[^a-zA-Z0-9]", "_") + "-"
    val p = new java.io.File(parent)
    Option(p.listFiles()).foreach(_.foreach { f =>
      val rest = f.getName.stripPrefix(legacyPrefix).stripSuffix(".delta")
      if (f.isDirectory && f.getName.startsWith(legacyPrefix) &&
          rest.nonEmpty && rest.length <= 16 &&
          rest.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')) &&
          looksLikeGraftStore(f))
        graft.sources.ParquetMeta.deleteRecursively(f)
    })
  }

  /** Name-shape matching alone must not authorize a recursive delete:
    * the legacy prefix is a sanitized path under a SHARED /tmp parent,
    * so a foreign dir that happens to match `<sanitized dir>-<hex>` —
    * another tool's cache, say — would be destroyed with no marker
    * check. A graft store always carries a write artifact: the parquet
    * job commit (`_SUCCESS`, possibly nested for multi-dataset roots),
    * the serving version stamp (`_store_version`), the generation
    * manifest (`_manifest`), or — for `.delta` datasets — exclusively
    * store-shaped children (epoch/batch dirs, part files, markers).
    * Anything else is left alone; a leaked legacy dir is disk, a
    * deleted foreign dir is someone's data. */
  private def looksLikeGraftStore(f: java.io.File): Boolean = {
    def kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
    if (f.getName.endsWith(".delta")) {
      // shape alone is not authorization: a foreign parquet dataset
      // (part files + a _delta_log, say) passes a loose forall — a
      // graft delta always carries a POSITIVE marker too: the flat
      // layer's job commit (_SUCCESS), an epoch/batch dir, or the
      // legacy stream-epoch file
      val ks = kids
      ks.exists { c =>
        c.getName == "_SUCCESS" || c.getName == "_stream_epoch" ||
          c.getName.startsWith("bid=") || c.getName.startsWith("eid=")
      } && ks.forall { c =>
        val n = c.getName
        n.startsWith("_") || n.startsWith(".") ||
          n.startsWith("bid=") || n.startsWith("eid=") ||
          n.startsWith("part-") || n.endsWith(".parquet")
      }
    }
    else
      Seq("_SUCCESS", "_store_version", "_manifest")
        .exists(m => new java.io.File(f, m).exists()) ||
        // multi-dataset roots (route packs, IVF stores) commit per
        // child dataset, not at the root
        kids.exists(c => c.isDirectory &&
          new java.io.File(c, "_SUCCESS").exists())
  }

  /** The embeddings seeded-IVF store (ann_sql_ivf / ServingBench
    * t0_ivf): built if missing, path returned. */
  def ensureIvfStore(s: SparkSession, dir: String): String = {
    val p = taggedPath(s, "/tmp/graft_ann_ivf_sql", dir)
    if (!new java.io.File(s"$p/lists/_SUCCESS").exists())
      graft.index.AnnIndexStore.buildIvfSeeded(
        s.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec")),
        p, nlist = 16)
    p
  }

  /** The 4-type route pack: its base at `<root>/base` and the
    * [[graft.index.TypeStores]] layout beside it (knn_stored,
    * knn_routed_ann, ann_hnsw_knn, ann_ef_tune, the ann_sql_* gates,
    * ServingBench): built if missing, root returned. */
  def ensureRouteStores(s: SparkSession, dir: String): String = {
    val root = taggedPath(s, "/tmp/graft_sql_route", dir)
    val basePath = s"$root/base"
    if (!new java.io.File(s"$basePath/_SUCCESS").exists())
      graft.SparkEntry.vecBase(s, dir).write.mode("overwrite").parquet(basePath)
    graft.index.TypeStores.ensure(s.read.parquet(basePath), root)
    root
  }

  /** Overlap the one-time store builds of the bench's builder queries
    * (r15, guide §2.6): the route pack (knn_stored, ann_sql_topk and
    * ann_sql_routed all read it) and the delta store (ann_delta_knn)
    * have DISJOINT roots and each build uses only a handful of tasks,
    * so a serial pre-pass leaves the machine mostly idle. The route
    * pack is one build however many of its readers are selected: two
    * threads ensuring one root would race on its writes.
    * ONLY the ensure blocks run here (not the queries themselves): the
    * serving queries also REGISTER catalog routes, and overlapping two
    * registrations under one base path could cross the pre-pass
    * searches onto each other's routes — builds are path-disjoint and
    * idempotent, registrations are not order-free. The queries then
    * find committed stores and skip their ensure. */
  def prebuildStores(s: SparkSession, dir: String, names: Set[String]): Unit = {
    val routePack = Set("knn_stored", "ann_sql_topk", "ann_sql_routed")
    val builds = Seq(
      names.exists(routePack) -> (() => { ensureRouteStores(s, dir); () }),
      names("ann_delta_knn") ->
        (() => { graft.queries.ApproxQueries.ensureDeltaStore(s, dir); () }))
    graft.operators.ParallelActions.runAll(builds.collect { case (true, b) => b })
  }
}
