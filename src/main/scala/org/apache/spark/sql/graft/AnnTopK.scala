package org.apache.spark.sql.graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, IntegerLiteral, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, GreaterThanOrEqual, IsNotNull, LessThanOrEqual}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

import graft.index.HnswIndex

/** SQL-level ANN auto-routing — the optional "AnnJoinStrategy" polish of
  * SURVEY §4: the reference's entire premise is that
  *
  *   SELECT id FROM base ORDER BY l2_sq(vec, :qvec) LIMIT k
  *
  * should not scan the base (hybrid_graph.cpp:239-298 routes it into an
  * HNSW walk). Spark's own planner turns this shape into
  * `TakeOrderedAndProject` — an exact full scan. When (a) the session
  * opts in (`spark.graft.ann.autoRoute`, default true), and (b) an
  * [[AnnCatalog]] index is registered for the scanned parquet path, this
  * strategy plans the bucketed-HNSW search from [[graft.index.AnnIndexStore]]
  * instead: each index bucket row searches its sub-graph, the driver
  * merges top-k — O(buckets · ef) distance evaluations instead of O(N).
  *
  * Matching is deliberately narrow (approximate results must be opted
  * into, never sprung on a user): single ascending `l2_sq(vec, literal)`
  * sort key (optional `id` tiebreak), projected output of id / constant
  * / base columns (wide outputs fetch the k result rows by id), scan =
  * registered path. Anything else falls through to the built-in
  * strategies untouched.
  */
object AnnCatalog {

  /** Where the bucketed index table lives + the base column contract.
    * `labelIndex` optionally points at a per-label index table
    * ([[graft.index.AnnIndexStore.buildBy]]) keyed by `labelCol`, which
    * answers `WHERE labelCol = v ORDER BY l2_sq ... LIMIT k` — the
    * reference's type-1 route — from the matching sub-index alone. */
  case class IndexMeta(indexPath: String, idCol: String, vecCol: String, ef: Int,
      labelIndex: Option[(String, String)] = None,
      rangeIndex: Option[(String, String)] = None,
      trusted: Boolean = false,
      ivfIndex: Option[String] = None,
      nprobe: Int = graft.index.AnnIndexStore.AutoNprobe)

  private val registry = TrieMap.empty[String, IndexMeta]

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Declare that `basePath` (a parquet dataset with columns
    * (idCol LONG, vecCol ARRAY&lt;FLOAT&gt;)) has a bucketed HNSW index
    * table (built by [[graft.index.AnnIndexStore.build]]) at `indexPath`.
    * Pass `labelIndex` = (labelCol → per-label index path from
    * [[graft.index.AnnIndexStore.buildBy]], built with `attrCol = tsCol`
    * when type-3 statements should route too) and/or `rangeIndex` =
    * (tsCol → decile index path, `buildBy` over `floor(ts·10)` with
    * `attrCol = tsCol`) to also route predicated top-k statements —
    * all four of the reference's query types, from SQL text. */
  /** `trusted = true` declares the store fresh by contract FOR THIS
    * basePath only (e.g. it was just built from this exact base):
    * id-only statements are then answered entirely from the index with
    * no per-query staleness-validation scan. Scoped per registration —
    * never a session-wide switch (the global
    * `spark.graft.ann.trustIndex` conf remains as an operator
    * override). */
  /** `ivfIndex` (a [[graft.index.AnnIndexStore.buildIvf]]/`buildIvfSeeded`
    * root holding `centroids` + `lists`) upgrades the UNFILTERED route:
    * instead of walking every hash bucket (B× walk amplification —
    * IvfScaleProbe, deleted after 8b7c77f, measured centroid routing
    * 3.3× faster at the 10M×250k contest point), the statement's query vector picks its `nprobe`
    * nearest centroids driver-side and only those lists are read and
    * walked — the reference's "don't scan what routing can skip"
    * (hybrid_graph.cpp:306-333). `nprobe` is the per-registration
    * recall/latency knob; left at [[graft.index.AnnIndexStore.AutoNprobe]]
    * it resolves to the store's measured `_nprobe` sidecar
    * ([[graft.index.EfTuner.tuneNprobe]]) when present, else the
    * untuned default (session override: `spark.graft.ann.nprobe`
    * beats both). */
  def register(basePath: String, indexPath: String,
      idCol: String = "id", vecCol: String = "vec", ef: Int = 200,
      labelIndex: Option[(String, String)] = None,
      rangeIndex: Option[(String, String)] = None,
      trusted: Boolean = false,
      ivfIndex: Option[String] = None,
      nprobe: Int = graft.index.AnnIndexStore.AutoNprobe): Unit = {
    (labelIndex.map(_._2) ++ rangeIndex.map(_._2)).foreach(attrCache.remove)
    ivfIndex.foreach(centroidCache.remove)
    ivfIndex.foreach(nprobeCache.remove)
    // same staleness rule as the two caches above: a re-registration is
    // the signal the base may have been regenerated, and a cached
    // null-free verdict from the OLD corpus would let the null-ordering
    // guard route a statement whose exact plan now emits null-vec rows
    nullFreeCache.remove(norm(basePath))
    registry.put(norm(basePath),
      IndexMeta(indexPath, idCol, vecCol, ef, labelIndex, rangeIndex, trusted,
        ivfIndex, nprobe))
  }

  // Warn — once per index path, at the ROUTE DECISION, not at
  // register(): an unfiltered (type-0) statement served by the hash
  // route walks EVERY bucket of the index, amplification that grows
  // with bucket count (5.5× slower than centroid routing at the 10M
  // contest point, BASELINE.md). Warning at registration would fire on
  // every label/range-only registration and every deliberate
  // exhaustive-mode A/B — cry-wolf noise exactly where the reader must
  // stay alert; here it fires only when a statement actually takes the
  // amplified path.
  private val hashRouteWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def warnHashRouteOnce(indexPath: String): Unit =
    if (hashRouteWarned.add(indexPath))
      System.err.println(s"[graft] type-0 statement served by the " +
        s"walk-every-bucket hash route of $indexPath (no ivfIndex " +
        "registered — O(buckets) amplification); pass ivfIndex = " +
        "Some(buildIvf(...)) for centroid-routed type-0 serving")

  /** Tune-then-serve: measure the recall-optimal ef on the REAL stored
    * sub-index ([[graft.index.EfTuner.tuneStored]] — the reference's
    * sweep-then-serve lifecycle, hybrid_graph.h:14-34 consuming
    * getquery.cpp's offline curves) and register the path with the
    * chosen rung instead of a hand-picked constant. Returns the tune
    * result so callers can record the ladder. The serving ef is
    * `max(chosenEf, k)` — an ef below k cannot return k results. */
  def registerTuned(spark: SparkSession, basePath: String, indexPath: String,
      sample: Array[Array[Float]], k: Int, targetRecall: Double,
      idCol: String = "id", vecCol: String = "vec",
      ladder: Seq[Int] = graft.index.EfTuner.DefaultLadder,
      labelIndex: Option[(String, String)] = None,
      rangeIndex: Option[(String, String)] = None,
      trusted: Boolean = false,
      ivfIndex: Option[String] = None,
      nprobe: Int = graft.index.AnnIndexStore.AutoNprobe): graft.index.EfTuner.Result = {
    val res = graft.index.EfTuner.tuneStored(spark, indexPath, sample, k,
      targetRecall, ladder)
    register(basePath, indexPath, idCol, vecCol, math.max(res.chosenEf, k),
      labelIndex, rangeIndex, trusted, ivfIndex, nprobe)
    res
  }

  def unregister(basePath: String): Unit = registry.remove(norm(basePath))

  def clear(): Unit = {
    registry.clear(); attrCache.clear(); centroidCache.clear()
    nullFreeCache.clear(); nprobeCache.clear()
    graft.index.AnnIndexStore.clearStoreFrames()
    AnnTopKExec.clearPlacements()
  }

  // IVF centroid tables (nlist rows by contract), driver-resident per
  // store path. Registration paths embed the source-generation
  // fingerprint, so a regenerated corpus can never hit a stale entry.
  private val centroidCache = TrieMap.empty[String, Array[(Int, Array[Float])]]

  // AutoNprobe sidecar resolution per ivf path — invalidated on
  // register(), same staleness rule as centroidCache (a re-registration
  // is the signal the store may have been rebuilt or re-tuned)
  private[graft] val nprobeCache = TrieMap.empty[String, Int]

  private[graft] def centroidsOf(spark: org.apache.spark.sql.SparkSession,
      ivfPath: String): Array[(Int, Array[Float])] =
    centroidCache.getOrElseUpdate(ivfPath, {
      import org.apache.spark.sql.functions.col
      spark.read.parquet(s"${graft.index.AnnIndexStore.resolveStore(ivfPath)}/centroids")
        .select(col("list").cast("int"), col("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    })

  // which column an index table's aligned `attrs` were built from
  // (AnnIndexStore.buildBy writes it as a constant `attr_col` column).
  // Cached per path — read once at first route decision. None when the
  // table predates the column or was built without attrCol, in which
  // case ts-filtered routes must fall through to the exact plan.
  private val attrCache = TrieMap.empty[String, Option[String]]

  private[graft] def attrColOf(spark: SparkSession, indexPath: String): Option[String] =
    attrCache.get(indexPath) match {
      case Some(v) => v
      case None =>
        try {
          val df = spark.read.parquet(graft.index.AnnIndexStore.resolveStore(indexPath))
          val v = if (!df.columns.contains("attr_col")) None
            else Option(df.select("attr_col").head.getString(0))
          attrCache.put(indexPath, v)
          v
        } catch {
          // NonFatal only: an unreadable index table means "use the
          // exact plan" for THIS statement — but the failure is NOT
          // cached (a transient fs flicker memoized as None would
          // disable ts-range routing for the whole session); genuine
          // absence caches via the no-column branch above. Fatal errors
          // propagate.
          case scala.util.control.NonFatal(_) => None
        }
    }

  // one MEASURED null-freedom probe per base path per session: a
  // stats-pruned IsNull scan (parquet row groups with nullCount = 0
  // skip on footer stats alone), consulted by the strategy's
  // null-ordering guard for untrusted registrations. Cached like
  // attrColOf — absence of nulls is a property of the registered
  // corpus; post-probe drift falls under guard mode's documented
  // freshness contract. Probe FAILURES are not cached.
  private val nullFreeCache = TrieMap.empty[String, Boolean]

  private[graft] def vecNullFree(spark: SparkSession, basePath: String,
      vecCol: String): Boolean = {
    // keyed by norm() like the registry — the route site passes the
    // scan's fs-qualified root ("file:/...") while register() passes
    // the user's plain path, and a key mismatch would make register's
    // staleness invalidation miss this cache
    val key = norm(basePath)
    nullFreeCache.get(key) match {
      case Some(v) => v
      case None =>
        try {
          import org.apache.spark.sql.functions.col
          val free = spark.read.parquet(basePath)
            .filter(col(vecCol).isNull).limit(1).isEmpty
          nullFreeCache.put(key, free)
          free
        } catch {
          case scala.util.control.NonFatal(_) => false
        }
    }
  }

  private[graft] def lookup(paths: Seq[org.apache.hadoop.fs.Path]): Option[IndexMeta] =
    paths.iterator.flatMap(p => registry.get(p.toUri.getPath)).nextOption()
}

case class AnnTopKStrategy(session: SparkSession) extends SparkStrategy {

  private object FloatArrayLiteral {
    def unapply(e: Expression): Option[Array[Float]] = e match {
      case Literal(a: ArrayData, ArrayType(FloatType, _)) if a != null =>
        Some(a.toFloatArray())
      case _ => None
    }
  }

  /** l2_sq(vecAttr, queryLiteral) in either argument order. */
  private object DistCall {
    def unapply(e: Expression): Option[(Attribute, Array[Float])] = e match {
      case L2SquaredDistance(a: Attribute, FloatArrayLiteral(q)) => Some((a, q))
      case L2SquaredDistance(FloatArrayLiteral(q), a: Attribute) => Some((a, q))
      case _ => None
    }
  }

  private object LongEquality {
    def unapply(e: Expression): Option[(AttributeReference, Long)] = e match {
      case EqualTo(a: AttributeReference, Literal(v: Long, LongType)) => Some((a, v))
      case EqualTo(Literal(v: Long, LongType), a: AttributeReference) => Some((a, v))
      case EqualTo(a: AttributeReference, Literal(v: Int, IntegerType)) => Some((a, v.toLong))
      case EqualTo(Literal(v: Int, IntegerType), a: AttributeReference) => Some((a, v.toLong))
      case _ => None
    }
  }

  private object NumLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, DoubleType) => Some(v)
      case Literal(v: Float, FloatType) => Some(v.toDouble)
      case Literal(v: Int, IntegerType) => Some(v.toDouble)
      case Literal(v: Long, LongType) => Some(v.toDouble)
      case _ => None
    }
  }

  /** `attr >= lit` / `attr <= lit` in either writing, as (attr, isLower, bound). */
  private object Bound {
    def unapply(e: Expression): Option[(AttributeReference, Boolean, Double)] = e match {
      case GreaterThanOrEqual(a: AttributeReference, NumLit(v)) => Some((a, true, v))
      case LessThanOrEqual(NumLit(v), a: AttributeReference) => Some((a, true, v))
      case LessThanOrEqual(a: AttributeReference, NumLit(v)) => Some((a, false, v))
      case GreaterThanOrEqual(NumLit(v), a: AttributeReference) => Some((a, false, v))
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The predicates the index layer can answer: at most one integer
    * equality (label) and at most one closed numeric interval (ts).
    * `notNull` carries the columns of user-written IS NOT NULL
    * conjuncts that are NOT implied by the eq/range predicates — the
    * route must prove it can honor each (only the vec column qualifies:
    * a routed result never contains null-vec rows) or fall through to
    * the exact plan. */
  private case class PredInfo(eq: Option[(AttributeReference, Long)] = None,
      range: Option[(AttributeReference, Double, Double)] = None,
      notNull: Set[String] = Set.empty)

  /** Strip pass-through projections and at most one index-answerable
    * filter (label equality and/or closed ts interval, plus the
    * IsNotNull conjuncts the optimizer infers). Projections may rename
    * attributes or compute literals / the distance expression (the DSL
    * `select(..., l2_sq(...).as("d")).orderBy(...)` form computes the
    * distance in a projection BELOW the sort); every such alias is
    * recorded in the returned substitution so outer references resolve
    * to what they compute. Matches both the v1
    * (LogicalRelation/HadoopFsRelation) and v2 (DataSourceV2ScanRelation
    * over a FileScan) parquet read paths; the v2 case only matches when
    * the scan consumed NO partition filters — a consumed filter is
    * invisible here and routing without it would answer the wrong
    * predicate. Returns the scan's root paths. */
  private def unwrap(plan: LogicalPlan)
      : Option[(Seq[org.apache.hadoop.fs.Path], PredInfo,
          Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])] = plan match {
    case Project(pl, child) if pl.forall {
          case _: AttributeReference => true
          case Alias(_: AttributeReference, _) => true
          case Alias(_: Literal, _) => true
          case Alias(DistCall(_, _), _) => true
          case _ => false
        } =>
      unwrap(child).map { case (paths, preds, subst) =>
        val added = pl.collect { case a @ Alias(e, _) => a.exprId -> e }
        (paths, preds, subst ++ added)
      }
    case Filter(cond, child) =>
      val parts = conjuncts(cond)
      val eqs = parts.collect { case LongEquality(a, v) => (a, v) }
      val bounds = parts.collect { case Bound(a, lower, v) => (a, lower, v) }
      // IsNotNull on an eq/range column is IMPLIED by that predicate
      // (x = 5 / l <= x can never hold for NULL) — the optimizer infers
      // these and dropping them is sound. IsNotNull on any OTHER column
      // is a user predicate the route must account for: recorded in
      // PredInfo.notNull, where the route keeps only statements whose
      // every entry it can honor (the vec column — a routed result
      // never contains null-vec rows). Dropping them all
      // indiscriminately made the routed plan ignore part of the WHERE
      // clause (e.g. `AND payload IS NOT NULL`).
      val implied = (eqs.map(_._1.name) ++ bounds.map(_._1.name))
        .map(_.toLowerCase).toSet
      val extraNotNull = parts.collect {
        case IsNotNull(a: AttributeReference)
            if !implied.contains(a.name.toLowerCase) => a.name
      }.toSet
      val residue = parts.filter {
        case LongEquality(_, _) => false
        case Bound(_, _, _) => false
        case IsNotNull(_: AttributeReference) => false
        case _ => true
      }
      val range = bounds.groupBy(_._1.name) match {
        case m if m.isEmpty => Some(None)
        case m if m.size == 1 =>
          val bs = m.head._2
          val los = bs.filter(_._2).map(_._3)
          val his = bs.filterNot(_._2).map(_._3)
          if (los.length == 1 && his.length == 1)
            Some(Some((bs.head._1, los.head, his.head)))
          else None
        case _ => None
      }
      range match {
        case Some(r) if eqs.length <= 1 && residue.isEmpty &&
            (eqs.nonEmpty || r.nonEmpty || extraNotNull.nonEmpty) =>
          unwrap(child).collect { case (paths, PredInfo(None, None, nn), subst) =>
            (paths, PredInfo(eqs.headOption, r, nn ++ extraNotNull), subst)
          }
        case _ => None
      }
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation => Some((fs.location.rootPaths, PredInfo(), Map.empty))
        case _ => None
      }
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      r.scan match {
        case fs: org.apache.spark.sql.execution.datasources.v2.FileScan
            if fs.partitionFilters.isEmpty =>
          Some((fs.fileIndex.rootPaths, PredInfo(), Map.empty))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    if (session.conf.get("spark.graft.ann.autoRoute", "true") != "true") return Nil
    plan match {
      // the planner hands collect()-rooted plans to strategies as
      // ReturnAnswer(Limit(...)) and SpecialLimits would claim that
      // whole subtree — match through the wrapper first
      case ReturnAnswer(root) => apply(root)
      case Limit(IntegerLiteral(k), Project(pl, s: Sort)) if s.global =>
        route(k, pl, s.order, s.child).toSeq
      // ORDER BY an aliased select-list expression (`SELECT id,
      // l2_sq(vec, :q) AS d ... ORDER BY d LIMIT k`): the sort sits
      // directly above the computing project — unwrap's substitution
      // resolves the sort keys through the aliases
      case Limit(IntegerLiteral(k), Sort(order, true, p @ Project(pl, _), _)) =>
        route(k, pl, order, p).toSeq
      case _ => Nil
    }
  }

  private def route(k: Int, outer: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      order: Seq[SortOrder], planChild: LogicalPlan): Option[SparkPlan] = {
    for {
      (rootPaths, preds, subst) <- unwrap(planChild)
      // resolve references through any computing projections below the
      // sort (rename chains, literal aliases, the distance alias)
      deref = { (e: Expression) =>
        var cur = e
        var guard = 0
        var continue = true
        while (continue && guard < 16) {
          cur match {
            case ar: AttributeReference if subst.contains(ar.exprId) =>
              cur = subst(ar.exprId); guard += 1
            case _ => continue = false
          }
        }
        cur
      }
      keys <- order.map(so => (deref(so.child), so.direction, so.nullOrdering)) match {
        case Seq((DistCall(v, q), Ascending, no)) =>
          Some((v, q, None: Option[AttributeReference], no))
        // keys after the id tiebreak are redundant (the id is unique —
        // the later `tie == idCol` guard makes ignoring them sound)
        case (DistCall(v, q), Ascending, no) +:
             (tie: AttributeReference, Ascending, _) +: _ =>
          Some((v, q, Some(tie), no))
        case _ => None
      }
      (vecAttr, qvec, tie, _) = keys
      // single-root scans only: a registration matching ONE root of a
      // multi-path scan would serve just that root's rows (basePath =
      // rootPaths.head feeds the point-lookup scan and the serving
      // cache framing), and the null-freedom probe below would measure
      // the wrong dataset — the exact plan is the only one that reads
      // all roots, so multi-root falls through to it
      if rootPaths.length == 1
      meta <- AnnCatalog.lookup(rootPaths)
      if vecAttr.name.equalsIgnoreCase(meta.vecCol)
      if tie.forall(_.name.equalsIgnoreCase(meta.idCol))
      // every surviving user IS NOT NULL must be one the route honors:
      // only the vec column qualifies (a routed result never contains
      // null-vec rows); any other column's IS NOT NULL falls through to
      // the exact plan, which actually applies it
      if preds.notNull.forall(_.equalsIgnoreCase(meta.vecCol))
      // null safety: a null-vec row makes the exact plan diverge from
      // any routed plan under BOTH null orderings — Spark's default
      // ascending NULLS FIRST ranks null-distance rows before every
      // real neighbor, and NULLS LAST pads them at the tail whenever
      // the limit exceeds the non-null row count (the index holds only
      // non-null rows, so the routed plan comes up short). Route only
      // when nulls provably cannot exist in the scanned rows: the
      // statement filters `vec IS NOT NULL`, the vec attribute is
      // non-nullable, the registration is trusted (the store covers
      // the base by contract, and a null vector cannot be indexed), or
      // the base is MEASURED null-free (one stats-pruned probe per
      // path per session, invalidated on re-registration; post-check
      // drift is excluded by the same freshness contract guard mode
      // documents).
      if preds.notNull.exists(_.equalsIgnoreCase(meta.vecCol)) ||
        !vecAttr.nullable ||
        meta.trusted ||
        session.conf.get("spark.graft.ann.trustIndex", "false").toBoolean ||
        AnnCatalog.vecNullFree(session, rootPaths.head.toString, meta.vecCol)
      // predicate → stored-index route: the reference's 4-type dispatch
      //   none        → hash-bucket table       (type 0)
      //   label = v   → per-label table         (type 1)
      //   l ≤ ts ≤ r  → decile table, in-filter (type 2)
      //   both        → per-label table + ts in-filter (type 3)
      annRoute <- (preds.eq, preds.range) match {
        // type 0: centroid-routed IVF when registered (reads nprobe
        // lists), hash-bucket walk-all otherwise
        case (None, None) => Some(meta.ivfIndex match {
          case Some(ivfPath) =>
            // precedence: session conf > explicit registration value >
            // the store's tuned `_nprobe` sidecar > untuned default.
            // The sidecar resolution is CACHED per ivf path (register()
            // invalidates, like centroidCache): an uncached read would
            // be one exists + readAllBytes per planned statement on the
            // ms-latency serving path. A tuner that re-stamps a LIVE
            // registration's sidecar is picked up at re-registration —
            // registerTuned's own order (tune, then register) already
            // does this, and the session conf remains the no-restart
            // override.
            val np = session.conf.getOption("spark.graft.ann.nprobe")
              .map(_.toInt)
              .getOrElse {
                if (meta.nprobe != graft.index.AnnIndexStore.AutoNprobe) meta.nprobe
                else AnnCatalog.nprobeCache.getOrElseUpdate(ivfPath,
                  graft.index.AnnIndexStore.resolveNprobe(
                    ivfPath, graft.index.AnnIndexStore.AutoNprobe))
              }
            AnnTopKExec.IvfRoute(ivfPath, np)
          case None =>
            AnnCatalog.warnHashRouteOnce(meta.indexPath)
            AnnTopKExec.HashRoute(meta.indexPath)
        })
        case (Some((attr, v)), None) => meta.labelIndex.collect {
          case (labelCol, p) if attr.name.equalsIgnoreCase(labelCol) =>
            AnnTopKExec.LabelRoute(p, v, None)
        }
        // ts-filtered routes additionally require the index's stored
        // attrs to BE that ts column (attr_col metadata) — an index built
        // without it has placeholder 0.0 attrs and would silently answer
        // the range predicate wrong; fall through to the exact plan
        case (None, Some((attr, lo, hi))) => meta.rangeIndex.collect {
          case (tsCol, p) if attr.name.equalsIgnoreCase(tsCol) &&
              AnnCatalog.attrColOf(session, p).exists(_.equalsIgnoreCase(tsCol)) =>
            AnnTopKExec.RangeRoute(p, lo, hi)
        }
        case (Some((lAttr, v)), Some((tAttr, lo, hi))) =>
          (meta.labelIndex, meta.rangeIndex) match {
            case (Some((labelCol, p)), Some((tsCol, _)))
                if lAttr.name.equalsIgnoreCase(labelCol) &&
                  tAttr.name.equalsIgnoreCase(tsCol) &&
                  AnnCatalog.attrColOf(session, p).exists(_.equalsIgnoreCase(tsCol)) =>
              Some(AnnTopKExec.LabelRoute(p, v, Some((lo, hi))))
            case _ => None
          }
      }
      // the routed output: each slot is the id, a constant, the sort's
      // own distance expression (recomputed at emit time with the
      // L2SquaredDistance double loop for cross-plan bit-equality), or
      // any other base column (wide
      // outputs are answered by an id-keyed point fetch of the k result
      // rows — `SELECT id, label, l2_sq(vec, :q) AS d ... LIMIT k`
      // routes too, not just bare-id projections)
      slots <- {
        val classified = outer.map { ne =>
          val resolved = ne match {
            case Alias(e, _) => deref(e)
            case e => deref(e)
          }
          resolved match {
            case a: AttributeReference
                if a.name.equalsIgnoreCase(meta.idCol) && a.dataType == LongType =>
              Some(AnnTopKExec.IdSlot: AnnTopKExec.Slot)
            case l: Literal =>
              Some(AnnTopKExec.ConstSlot(l.value): AnnTopKExec.Slot)
            case DistCall(a, q2)
                if a.name.equalsIgnoreCase(meta.vecCol) &&
                  java.util.Arrays.equals(q2, qvec) =>
              Some(AnnTopKExec.DistSlot: AnnTopKExec.Slot)
            case a: AttributeReference =>
              Some(AnnTopKExec.ColSlot(a.name): AnnTopKExec.Slot)
            case _ => None
          }
        }
        if (classified.contains(None)) None else Some(classified.map(_.get))
      }
    } yield {
      val ef = session.conf.getOption("spark.graft.ann.ef")
        .map(_.toInt).getOrElse(meta.ef)
      val basePath = rootPaths.head.toString
      AnnTopKExec(outer.map(_.toAttribute), slots, annRoute, ef, qvec, k,
        basePath, meta.idCol, meta.vecCol, meta.trusted)
    }
  }
}

/** Physical index-search node: reads the bucketed index table, each
  * bucket walks its HNSW for the (plan-time constant) query vector, the
  * driver merges to the global top-k ordered by (dist, id). The merge is
  * k·buckets rows — the same two-level shape as the reference's
  * per-sub-index candidate pooling (hybrid_graph.cpp:306-333).
  * `slots` maps each output column to the result id, a constant, or a
  * base column; base columns are answered by a second point-lookup scan
  * of the base parquet filtered to the k result ids (pushed-down isin —
  * k rows, not a full scan). */
case class AnnTopKExec(output: Seq[Attribute], slots: Seq[AnnTopKExec.Slot],
    route: AnnTopKExec.AnnRoute, ef: Int, qvec: Array[Float], k: Int,
    basePath: String, idCol: String, vecCol: String,
    trusted: Boolean = false)
    extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val hits = AnnTopKExec.searchHits(session, route, qvec, k, ef)
    val ids = hits.map(_._1)
    val types = output.map(_.dataType).toArray
    val slotArr = slots.toArray
    // searchHits distances are already the engine-canonical sequential-
    // double arithmetic (HnswIndex.exactDistTo — identical to the
    // L2SquaredDistance expression), NOT the kernel's float-accumulated
    // walk value, and the merge ordered by (dist, id) — so routed and
    // unrouted plans emit identical bytes whenever the top-k membership
    // matches, with no re-distancing needed here.
    //
    // GUARD mode (the default): the base table is the source of truth.
    // Fetch the k result rows by id (tiny scan, id-isin pushed to
    // parquet) INCLUDING the vector, drop ids the base no longer holds
    // and rows whose vector went null since the index build (the
    // strategy only routes when null-vec rows provably cannot exist in
    // the scanned rows — a vec IS NOT NULL predicate, a non-nullable
    // column, trusted, or a measured null-free base — so dropping here
    // matches), and
    // re-distance/re-sort against the CURRENT base vectors — so even a
    // base row whose vector changed since the index build emits the
    // distance and rank the unrouted exact plan would.
    //
    // TRUST mode (per-registration `trusted=true`, or the session-wide
    // spark.graft.ann.trustIndex operator override): the store is fresh
    // by contract, so id/dist/constant-only statements are answered
    // entirely from the index — zero base-table jobs, the reference's
    // serving shape. Wide projections still fetch their columns (but
    // trust the index's distances).
    val trustIndex = trusted ||
      session.conf.get("spark.graft.ann.trustIndex", "false").toBoolean
    val fetchCols = slotArr.collect { case AnnTopKExec.ColSlot(n) => n }.distinct
    val needFetch = fetchCols.nonEmpty || !trustIndex
    val fetchAll =
      if (trustIndex) fetchCols else (fetchCols :+ vecCol).distinct
    val fetched: Map[Long, org.apache.spark.sql.Row] =
      if (ids.isEmpty || !needFetch) Map.empty
      else {
        import org.apache.spark.sql.functions.col
        session.read.parquet(basePath)
          .filter(col(idCol).isin(ids.toIndexedSeq: _*))
          .filter(col(vecCol).isNotNull)
          .select((col(idCol).cast("long").as("__id") +: fetchAll.toIndexedSeq.map(col)): _*)
          .collect()
          .map(r => r.getLong(0) -> r)
          .toMap
      }
    val colIndex = fetchAll.zipWithIndex.toMap
    val converters = slotArr.zipWithIndex.map { case (s, i) =>
      s match {
        case AnnTopKExec.ColSlot(_) =>
          CatalystTypeConverters.createToCatalystConverter(types(i))
        case _ => null
      }
    }
    def baseDist(id: Long): Double =
      graft.functions.VectorFunctions.l2SqJvm(
        fetched(id).getSeq[Float](colIndex(vecCol) + 1), qvec)
    val outHits =
      if (!needFetch) hits
      else if (trustIndex) hits.filter { case (id, _) => fetched.contains(id) }
      else hits
        .collect { case (id, _) if fetched.contains(id) => (id, baseDist(id)) }
        .sortBy { case (id, d) => (d, id) }
    val rows = outHits.map { case (id, d) =>
      val row = new GenericInternalRow(slotArr.length)
      var i = 0
      while (i < slotArr.length) {
        slotArr(i) match {
          case AnnTopKExec.IdSlot => row.update(i, id)
          case AnnTopKExec.DistSlot => row.update(i, d)
          case AnnTopKExec.ConstSlot(v) => row.update(i, v)
          case AnnTopKExec.ColSlot(n) =>
            row.update(i, converters(i)(fetched(id).get(colIndex(n) + 1)))
        }
        i += 1
      }
      row
    }
    sparkContext.parallelize(rows.toIndexedSeq, 1).mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      it.map(proj(_))
    }
  }

  override def simpleString(maxFields: Int): String =
    s"AnnTopK k=$k ef=$ef $route"
}

object AnnTopKExec extends org.apache.spark.internal.Logging {

  /** Output-slot source: the result id, a plan-time constant, the
    * search's exact distance, or a fetched base column. */
  sealed trait Slot
  case object IdSlot extends Slot
  case object DistSlot extends Slot
  case class ConstSlot(value: Any) extends Slot
  case class ColSlot(name: String) extends Slot

  /** Which stored index answers the statement, and under which predicate. */
  sealed trait AnnRoute { def path: String }
  /** Type 0: every hash bucket searched, results pooled. */
  case class HashRoute(path: String) extends AnnRoute {
    override def toString: String = s"index=$path"
  }
  /** Type 1/3: one label bucket, optional ts in-filter. */
  case class LabelRoute(path: String, bucket: Long,
      tsRange: Option[(Double, Double)]) extends AnnRoute {
    override def toString: String =
      s"index=$path bucket=$bucket" +
        tsRange.map { case (l, r) => s" ts=[$l,$r]" }.getOrElse("")
  }
  /** Type 2: overlapping decile buckets, in-filter on partial ones. */
  case class RangeRoute(path: String, lo: Double, hi: Double) extends AnnRoute {
    override def toString: String = s"index=$path ts=[$lo,$hi]"
  }
  /** Type 0 via centroid routing: only the query's nprobe nearest IVF
    * lists are read and walked (vs [[HashRoute]]'s every-bucket walk). */
  case class IvfRoute(path: String, nprobe: Int) extends AnnRoute {
    override def toString: String = s"ivf=$path nprobe=$nprobe"
  }

  /** Distributed bucket search + driver top-k merge, ascending (dist, id).
    * Bucketed routes read only the matching sub-index rows (parquet
    * min/max pruning); range routes run the in-filter walk on partially
    * covered deciles. Returns (id, exact fp32 dist) in rank order.
    *
    * Versioned stores ([[graft.index.AnnIndexStore.storeVersion]]) serve
    * through the two-pass [[searchStore]]: a WARM statement scans only
    * the tiny key columns and walks executor-cached graphs — zero blob
    * bytes read — while unversioned stores take the legacy full blob
    * scan through the content-fingerprint cache. */
  private[graft] def searchHits(spark: SparkSession, route: AnnRoute,
      qvec: Array[Float], k: Int, ef: Int): Array[(Long, Double)] = {
    import org.apache.spark.sql.functions.col
    val effEf = math.max(ef, k)
    route match {
      case HashRoute(path) =>
        searchStore(spark, path, None, plainWalk(qvec, k, effEf), k)
      case IvfRoute(path, nprobe) =>
        // The centroid table is nlist rows by contract — driver-resident
        // and cached per store path (registration paths embed the source
        // generation fingerprint, so a regenerated corpus misses): a
        // build-time constant must not cost a per-statement collect job
        // on the serving hot path. Probe-list choice mirrors
        // NearestCentroids exactly (sequential double L2, ties by
        // (dist, list) ascending) so the served candidate set equals the
        // oracle's replay.
        val cents = AnnCatalog.centroidsOf(spark, path)
        val scored = cents.map { case (li, cv) =>
          (graft.functions.VectorFunctions.l2SqJvm(cv, qvec), li)
        }.sortBy { case (d, li) => (d, li) }
        val lists = scored.take(math.min(nprobe, cents.length)).map(_._2.toLong).toIndexedSeq
        // salted oversized lists span several rows per bucket value; the
        // isin prunes to the probed lists via parquet min/max stats
        // LOGICAL root + subdir, resolved inside searchStore's retry
        // loop: an eagerly pre-resolved "<gen>/lists" path would pin
        // one generation and make the version-swap retry a no-op for
        // this route
        searchStore(spark, path,
          Some(col("bucket").isin(lists: _*)),
          plainWalk(qvec, k, effEf), k, subdir = Some("lists"))
      case LabelRoute(path, bucket, tsRange) =>
        searchStore(spark, path, Some(col("bucket") === bucket),
          labelWalk(qvec, k, effEf, tsRange), k)
      case RangeRoute(path, lo, hi) =>
        // one bucket of slack low ONLY when lo sits exactly on a decile
        // boundary — the single case where a boundary row could be
        // filed one decile down by floor rounding AND still be in
        // range (ts >= lo is monotone through the double multiply, so
        // off-boundary queries can never have in-range rows below the
        // nominal decile). The old unconditional -1 scanned and
        // deserialized a bucket rangeWalk's overlap bail then
        // discarded — one wasted blob per cold type-2 statement.
        val nominal = math.floor(lo * 10).toLong
        val minB = if (lo <= nominal / 10.0) nominal - 1 else nominal
        val maxB = math.floor(hi * 10).toLong
        searchStore(spark, path,
          Some(col("bucket") >= minB && col("bucket") <= maxB),
          rangeWalk(qvec, k, effEf, lo, hi), k)
    }
  }

  // --- per-route walk bodies (shared by the warm, cold, and legacy
  // passes — ONE definition each, so hit and miss paths cannot drift) --

  private type Walk = (Long, graft.index.ServingCache.Entry) => Iterator[(Double, Long)]

  private def emit(e: graft.index.ServingCache.Entry, qvec: Array[Float],
      hits: Array[(Int, Double)]): Iterator[(Double, Long)] =
    hits.iterator.map { case (internal, _) =>
      (e.index.exactDistTo(qvec, internal), e.ids(internal)) }

  /** Unfiltered walk (hash buckets, IVF lists). */
  private def plainWalk(qvec: Array[Float], k: Int, effEf: Int): Walk =
    (_, e) => emit(e, qvec, e.index.search(qvec, k, effEf))

  /** Type 1/3: label bucket, optional ts in-filter. Coverage by binary
    * search on the entry's shared sorted-ts view; SMALL slices scan
    * exactly, the rest walk in-filter with in-range seeds and
    * coverage-widened ef. */
  private def labelWalk(qvec: Array[Float], k: Int, effEf: Int,
      tsRange: Option[(Double, Double)]): Walk = (_, e) => {
    val hits = tsRange match {
      case None => e.index.search(qvec, k, effEf)
      case Some((l, r)) =>
        val tsIdx = e.tsIndex
        val ts = e.attrs
        val cover = tsIdx.coverage(l, r)
        if (cover < graft.operators.SearchParams.SmallCoverage)
          e.index.exactOver(qvec, tsIdx.inRange(l, r), k)
        else
          e.index.search(qvec, k,
            graft.operators.SearchParams.inFilterEf(effEf, cover),
            (i: Int) => ts(i) >= l && ts(i) <= r,
            seeds = tsIdx.seeds(l, r, graft.operators.SearchParams.FilterSeeds))
    }
    emit(e, qvec, hits)
  }

  /** Type 2: decile buckets — full buckets walk unfiltered, partial
    * ones in-filter (SMALL slices scan exactly). */
  private def rangeWalk(qvec: Array[Float], k: Int, effEf: Int,
      lo: Double, hi: Double): Walk = (decile, e) => {
    val bStart = decile / 10.0
    val bEnd = (decile + 1) / 10.0
    if (lo > bEnd || hi < bStart) Iterator.empty
    else {
      val full = lo <= bStart && hi >= bEnd
      val hits =
        if (full) e.index.search(qvec, k, effEf)
        else {
          val tsIdx = e.tsIndex
          val ts = e.attrs
          val cover = tsIdx.coverage(lo, hi)
          if (cover < graft.operators.SearchParams.SmallCoverage)
            e.index.exactOver(qvec, tsIdx.inRange(lo, hi), k)
          else
            e.index.search(qvec, k,
              graft.operators.SearchParams.inFilterEf(effEf, cover),
              (i: Int) => ts(i) >= lo && ts(i) <= hi,
              seeds = tsIdx.seeds(lo, hi, graft.operators.SearchParams.FilterSeeds))
        }
      emit(e, qvec, hits)
    }
  }

  private[graft] def clearPlacements(): Unit = placements.synchronized {
    placements.clear(); placementEntries.set(0)
  }

  // test/probe observability: registry shape without exposing the maps
  private[graft] def placementStoreCount: Int =
    placements.synchronized(placements.size())
  private[graft] def placementEntryCount: Long = placementEntries.get()
  private[graft] def placementsContains(spark: SparkSession, path: String,
      ver: String): Boolean =
    placements.synchronized(placements.containsKey((spark, path, ver)))
  // test-only direct insert, so eviction specs can fill past both
  // bounds without building thousands of real stores
  private[graft] def placementsInsertForTest(spark: SparkSession,
      path: String, ver: String, entries: Int): Unit =
    // same locking invariant as foldPlacements: counted puts happen
    // under placements.synchronized so a concurrent boundPlacements
    // recount can never observe puts the counter hasn't absorbed
    placements.synchronized {
      val m = placementsFor(spark, path, ver)
      var i = 0
      while (i < entries) {
        if (m.put((i.toLong, 0), "executor_test_0") == null) placementRecorded()
        i += 1
      }
    }

  // Cache-locality-aware warm scheduling: a ServingCache entry lives in
  // ONE executor JVM, but Spark schedules the warm pass's tasks by file
  // split locality, which knows nothing about where a graph is cached —
  // under multi-executor masters the LocalClusterProbe measured warm
  // statements landing on the wrong executor and paying the cold blob
  // load again. This registry records, per (store path, version), which
  // executor served each (bucket, sub) — learned from task emissions
  // after every pass — and later statements schedule their walk tasks
  // with an ExecutorCacheTaskLocation preference for that executor
  // (`executor_<host>_<id>`, the same mechanism Spark's own block
  // manager uses for cached RDD blocks). Strictly a HINT: a task that
  // runs elsewhere (executor lost, cluster rebalanced, locality-wait
  // expired) misses, falls to the cold pass, repopulates THAT executor,
  // and the emission overwrites the placement — self-healing, results
  // identical by construction. Inert under local[*] masters (one JVM,
  // nothing to place) and disableable via -Dgraft.serving.localityAware
  // =false. Keyed by (session, path, version): the version token
  // protects against a rebuilt store, and the SESSION key protects
  // against a restarted SparkContext at the same store version
  // — old placements name that context's executor ids, and scheduling
  // a fresh cluster's tasks toward dead executors would cost the
  // locality wait on every chunk until misses re-teach the map.
  // Size-bounded two ways: at 256 store keys and at ~1M TOTAL entries
  // across all maps (the per-store and store-count caps compose
  // multiplicatively, so a global entry bound is the one that actually
  // limits driver heap). Both bounds evict PER ENTRY in LRU order —
  // stopped sessions first, then least-recently-served (path, version)
  // maps — never wholesale: a clear-all would cold every store's placed
  // path at once because one runaway session overflowed the registry.
  // Access-ordered LinkedHashMap, all access under its own lock (a few
  // driver-side touches per warm statement — contention-free); the
  // INNER maps stay concurrent because fold puts race across statements.
  private val placements = new java.util.LinkedHashMap[
    (SparkSession, String, String),
    java.util.concurrent.ConcurrentHashMap[(Long, Int), String]](16, 0.75f, true)

  // Global entry count, tracked incrementally (fold puts increment via
  // [[placementRecorded]], evictions subtract the evicted map's size) —
  // the previous per-statement sum over ALL maps was a registry-sized
  // scan on every warm statement. A fold racing an eviction can
  // increment for an already-evicted map (bounded by one statement's
  // work list, direction = overcount = earlier eviction), so the rare
  // bound-trigger path recomputes the exact total before evicting.
  private val placementEntries = new java.util.concurrent.atomic.AtomicLong(0)
  private val MaxPlacementStores = 256
  private val MaxPlacementEntries = 1L << 20

  private def placementsFor(spark: SparkSession, path: String, ver: String):
      java.util.concurrent.ConcurrentHashMap[(Long, Int), String] =
    placements.synchronized {
      val key = (spark, path, ver)
      val hit = placements.get(key) // get() records the LRU touch
      if (hit != null) hit
      else {
        if (placements.size() >= MaxPlacementStores) {
          val it = placements.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1.sparkContext.isStopped) {
              placementEntries.addAndGet(-e.getValue.size()); it.remove()
            }
          }
          val eldest = placements.entrySet().iterator()
          while (placements.size() >= MaxPlacementStores && eldest.hasNext) {
            val e = eldest.next()
            placementEntries.addAndGet(-e.getValue.size()); eldest.remove()
          }
        }
        val m = new java.util.concurrent.ConcurrentHashMap[(Long, Int), String]
        placements.put(key, m)
        m
      }
    }

  /** Fold-side bookkeeping for a NEW (bucket, sub) placement. */
  private def placementRecorded(): Unit = placementEntries.incrementAndGet()

  /** Fold a pass's placement emissions atomically with the registry's
    * eviction/recount machinery: the map fetch (which may evict) and
    * the counted puts happen under the one lock, so the entry counter
    * can never lose an increment to a racing bound-trigger recompute
    * (drift, if any, is strictly upward — the safe direction).
    *
    * Chunked: placed-path passes emit ≤cap rows, but a SCAN-path pass
    * emits one placement per warm-served store row — holding the
    * registry lock for a very large store's whole fold would block
    * every concurrent statement's placementsFor at pass start.
    * Dedup-then-chunk keeps each critical section bounded; the
    * re-fetch per chunk keeps orphaned-map folds impossible across
    * the chunk boundaries too. */
  private def foldPlacements(spark: SparkSession, path: String, ver: String,
      emissions: Seq[((Long, Int), String)]): Unit = {
    // latest emission per key wins (same rule as map puts in order)
    val deduped = emissions.foldLeft(
      scala.collection.mutable.LinkedHashMap.empty[(Long, Int), String]) {
      case (m, (k, loc)) => m += (k -> loc)
    }
    deduped.toSeq.grouped(4096).foreach { chunk =>
      placements.synchronized {
        val target = placementsFor(spark, path, ver)
        chunk.foreach { case (key, loc) =>
          if (target.put(key, loc) == null) placementRecorded()
        }
      }
    }
  }

  /** Global placement-entry bound, applied at fold time: hints only, so
    * forgetting costs one cold reload per row, never correctness.
    * Evicts least-recently-served maps until ~7/8 of the bound (the
    * slack stops a statement-by-statement evict/insert thrash at the
    * exact boundary); the store folding right now was just touched by
    * its own placementsFor, so it is the LAST candidate. */
  private[graft] def boundPlacements(): Unit =
    if (placementEntries.get() >= MaxPlacementEntries) placements.synchronized {
      // reconcile the incremental counter first: orphaned-map folds can
      // only ever drift it UPWARD, so the recompute (rare — bound
      // triggers only, never per statement) keeps drift from turning
      // into perpetual eviction
      var exact = 0L
      val sumIt = placements.values().iterator()
      while (sumIt.hasNext) exact += sumIt.next().size()
      placementEntries.set(exact)
      val target = MaxPlacementEntries - (MaxPlacementEntries >> 3)
      val it = placements.entrySet().iterator()
      while (placementEntries.get() >= target && it.hasNext) {
        val e = it.next()
        placementEntries.addAndGet(-e.getValue.size()); it.remove()
      }
    }

  /** The executor-side self-location string, in TaskLocation's
    * executor-cache syntax. */
  private def hereLoc(): String = {
    val env = org.apache.spark.SparkEnv.get
    s"executor_${env.blockManager.blockManagerId.host}_${env.executorId}"
  }

  private def localityAware(sc: org.apache.spark.SparkContext): Boolean =
    !sc.isLocal &&
      java.lang.Boolean.parseBoolean(
        System.getProperty("graft.serving.localityAware", "true"))

  /** Test observability (probes/specs only): which warm path served
    * the last versioned pass — "placed" (locality-scheduled makeRDD)
    * or "scan". */
  @volatile var lastWarmPath: String = ""

  /** Cumulative warm-pass attribution counters, so a locality
    * regression shows in the gate bench's `serving_diag` (per-route
    * deltas) rather than only in a local-cluster probe rerun. Under
    * `local[*]` the placed branch is unreachable by design, so the
    * bench records placed=0 there — that reading means "inert-local",
    * not "regressed". */
  val warmPlacedPasses = new java.util.concurrent.atomic.AtomicLong(0)
  val warmScanPasses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Work-list cap for the placed warm path: the locality dispatch
    * collects the statement's (bucket, sub) rows driver-side, which is
    * bounded by the route on filtered statements (one label bucket, a
    * few range buckets, nprobe lists) but is EVERY store row on the
    * unfiltered hash route — past the cap the statement falls to the
    * scan path, whose file-split scheduling is the right shape for a
    * work list that large anyway. */
  private def placedMaxItems: Int =
    Integer.getInteger("graft.serving.placedMaxItems", 4096)

  /** Run `walk` over every (pred-matching) row of the store and merge
    * the global top-k, ascending (dist, id).
    *
    * Versioned store (stamped by [[graft.index.AnnIndexStore]] writers):
    *   pass 1 scans ONLY (bucket, sub) — no blob bytes — and walks rows
    *   the executor's [[graft.index.ServingCache]] already holds under
    *   (path, version, bucket, sub); rows it doesn't are recorded in a
    *   collection accumulator. Pass 2 (cold rows only, pruned to their
    *   buckets) reads the blobs, deserializes into the cache, and walks.
    *   A fully warm statement is pass 1 alone — the read-on-hit tax the
    *   fingerprint-keyed cache paid per statement is gone. A store
    *   swapped mid-statement is detected by re-reading the version after
    *   the passes (write-time tokens are unique) and the statement
    *   retries against the new generation — entries keyed under a
    *   superseded token are never read again and age out of the LRU.
    *
    * Unversioned store (legacy layout, or a writer that died between
    * the parquet commit and the stamp): one full blob scan through
    * [[HnswIndex.fromBytesCached]] — the content fingerprint can never
    * serve stale bytes, just slower. */
  private def searchStore(spark: SparkSession, path: String,
      pred: Option[org.apache.spark.sql.Column], walk: Walk,
      k: Int, subdir: Option[String] = None): Array[(Long, Double)] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

    def onePass(ver: Option[String], dataPath: String): Array[(Double, Long)] = {
      // the shared store-frame cache, validated against THIS pass's
      // token — the executor cache below keys its entries on it
      val df0 = graft.index.AnnIndexStore.storeFrame(spark, dataPath, ver)
      val df = pred.map(df0.filter).getOrElse(df0)
      val subCol = (if (df.columns.contains("sub")) col("sub") else lit(0))
        .cast("int").as("sub")
      val attrsCol = (if (df.columns.contains("attrs")) col("attrs")
        else lit(null).cast("array<double>")).as("attrs")
      def coldScan(d: org.apache.spark.sql.DataFrame) = d
        .select(col("bucket").cast("long").as("bucket"), subCol,
          col("ids"), attrsCol, col("graph"))
        .as[(Long, Int, Array[Long], Array[Double], Array[Byte])]
      ver match {
      case None =>
        coldScan(df).mapPartitions { it =>
          it.flatMap { case (bucket, _, ids, attrs, bytes) =>
            walk(bucket, new graft.index.ServingCache.Entry(
              HnswIndex.fromBytesCached(bytes), ids, attrs))
          }
        }.rdd.takeOrdered(k)(ord)
      case Some(v) =>
        val sc = spark.sparkContext
        val missAcc = sc.collectionAccumulator[(Long, Int)]("graft.serving.miss")
        // placement bookkeeping only exists where it can ever be READ:
        // under local[*] (or the opt-out) the placed branch below is
        // unreachable, and per-hit accumulator traffic plus a driver
        // map nothing consults would be pure hot-path waste
        val track = AnnTopKExec.localityAware(sc)
        // placement emissions: which executor HOLDS each served row's
        // graph after this pass (hits confirm, cold puts establish).
        // Only materialized when tracking — an accumulator created
        // unconditionally would still be registered and serialized
        // into every warm task under local[*], the exact bookkeeping
        // the track guard exists to skip
        val placeAcc =
          if (track) Some(sc.collectionAccumulator[((Long, Int), String)](
            "graft.serving.place"))
          else None
        val placed =
          if (track) AnnTopKExec.placementsFor(spark, path, v) else null
        def warmServe(bucket: Long, sub: Int): Iterator[(Double, Long)] = {
          val e = graft.index.ServingCache.get(path, v, bucket, sub)
          if (e == null) { missAcc.add((bucket, sub)); Iterator.empty }
          else {
            placeAcc.foreach(_.add(((bucket, sub), AnnTopKExec.hereLoc())))
            walk(bucket, e)
          }
        }
        // locality-scheduled warm pass: the statement's tiny
        // (bucket, sub) work list is collected driver-side (rows =
        // store rows the predicate keeps — bounded by the route:
        // one label bucket, a few range buckets, nprobe lists),
        // grouped by the cached-at executor, chunked so one
        // executor's group still parallelizes, and dispatched via
        // makeRDD with ExecutorCacheTaskLocation preferences — the
        // reference keeps its index resident and serves from it
        // (hybrid_graph.cpp:47-89); on a cluster, "resident" is a
        // specific executor, so the task must go TO the graph, not
        // the graph to the task. CAPPED both ways: a fully-learned
        // placement map bigger than the cap skips the collect job
        // outright (O(1) size check), and a partially-learned map
        // over an unexpectedly large work list is caught by the
        // limit(cap+1) collect — either way the statement falls to
        // the scan path, never an unbounded driver collect.
        val cap = AnnTopKExec.placedMaxItems
        // the O(1) size pre-check only applies to UNFILTERED statements,
        // where work list = every store row ⊇ the learned placements
        // (placed.size() > cap proves the list exceeds the cap without
        // running the collect job). A filtered statement's work list is
        // bounded by its route regardless of how many placements the
        // whole store has accumulated — gating it on placed.size()
        // would permanently cold the placed path on exactly the
        // filtered routes it exists for.
        val itemsOpt: Option[Array[(Long, Int)]] =
          if (track && !placed.isEmpty &&
              (pred.nonEmpty || placed.size() <= cap)) {
            val items = df
              .select(col("bucket").cast("long").as("bucket"), subCol)
              .as[(Long, Int)].limit(cap + 1).collect()
            if (items.length > cap) None else Some(items)
          } else None
        val warmTop = itemsOpt match {
          case Some(items) =>
            AnnTopKExec.lastWarmPath = "placed"
            AnnTopKExec.warmPlacedPasses.incrementAndGet()
            val parts: Seq[(Seq[(Long, Int)], Seq[String])] = items
              .groupBy(it => Option(placed.get(it)).getOrElse(""))
              .toSeq.flatMap { case (loc, group) =>
                group.grouped(4).map(chunk =>
                  (chunk.toSeq, if (loc.isEmpty) Nil else Seq(loc)))
              }
            if (parts.isEmpty) Array.empty[(Double, Long)] // pred kept no rows
            else sc.makeRDD(parts) // the (items, locations) overload
              .flatMap(chunk => chunk.iterator.flatMap {
                case (b, s) => warmServe(b, s)
              })
              .takeOrdered(k)(ord)
          case None =>
            AnnTopKExec.lastWarmPath = "scan"
            AnnTopKExec.warmScanPasses.incrementAndGet()
            df.select(col("bucket").cast("long").as("bucket"), subCol)
              .as[(Long, Int)]
              .mapPartitions(_.flatMap { case (b, s) => warmServe(b, s) })
              .rdd.takeOrdered(k)(ord)
        }
        val missed = {
          import scala.jdk.CollectionConverters._
          missAcc.value.asScala.toSet
        }
        val result =
          if (missed.isEmpty) warmTop
          else {
            val missBuckets = missed.map(_._1).toSeq
            val coldTop = coldScan(df.filter(col("bucket").isin(missBuckets: _*)))
              .mapPartitions { it =>
                it.flatMap { case (bucket, sub, ids, attrs, bytes) =>
                  if (!missed.contains((bucket, sub))) Iterator.empty
                  // fromBytesCached, not fromBytes: when the ServingCache
                  // is under-budgeted for the store's working set, every
                  // statement re-misses the evicted rows — the
                  // fingerprint-keyed deserialization cache then still
                  // shares the parsed graph (one hash of the bytes vs a
                  // full re-parse per statement), so the degraded path
                  // costs what the r10 fingerprint path did, not more.
                  // Both caches hold the SAME immutable index object, so
                  // double-residency costs one reference, not one copy.
                  else {
                    val e = graft.index.ServingCache.put(path, v,
                      bucket, sub, HnswIndex.fromBytesCached(bytes), ids, attrs)
                    placeAcc.foreach(_.add(((bucket, sub), AnnTopKExec.hereLoc())))
                    walk(bucket, e)
                  }
                }
              }.rdd.takeOrdered(k)(ord)
            // a speculative/retried warm task can record a miss for a row
            // another attempt served — identical (dist, id) duplicates,
            // removed before the final cut (an id lives in exactly one
            // store row, so distinct pairs are distinct ids)
            (warmTop ++ coldTop).distinct.sorted(ord).take(k)
          }
        // fold this pass's placements: latest emission wins, so a row
        // re-cached on a different executor (migration, eviction +
        // re-load) redirects the NEXT statement there; the global entry
        // bound keeps the registry a bounded hint cache, never a
        // driver-heap leak
        placeAcc.foreach { acc =>
          import scala.jdk.CollectionConverters._
          AnnTopKExec.boundPlacements()
          // the whole fold runs under the registry lock (driver-side,
          // ≤cap map puts — microseconds): an unlocked fold racing a
          // bound-trigger recompute could erase its own increments,
          // drifting the entry counter BELOW reality and weakening the
          // driver-heap bound it enforces; under the lock, re-fetch and
          // puts are atomic with every eviction/recount
          AnnTopKExec.foldPlacements(spark, path, v, acc.value.asScala.toSeq)
        }
        result
      }
    }

    // (data dir, version) resolved together: a generation-layout store
    // serves one immutable dir per pass, so a pass is always internally
    // consistent. Maintenance swaps are rare (single-writer contract);
    // a statement that straddled one re-runs against the new generation
    // — including a pass that FAILED because its resolved generation
    // was GC'd mid-scan by back-to-back maintenance ops (a reader
    // normally gets the full inter-maintenance interval; two ops inside
    // one statement is the corner this retry covers). A failure with NO
    // store change is a real error and propagates.
    var (dataPath, ver) = graft.index.AnnIndexStore.resolveVersioned(path, subdir)
    var top: Array[(Double, Long)] = null
    var retries = 0
    while (top == null) {
      val passed =
        try { top = onePass(ver, dataPath); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            val after = graft.index.AnnIndexStore.resolveVersioned(path, subdir)
            if (after == ((dataPath, ver)) || retries >= 2) throw e
            dataPath = after._1; ver = after._2; retries += 1
            false
        }
      if (passed) {
        val after = graft.index.AnnIndexStore.resolveVersioned(path, subdir)
        if (after != ((dataPath, ver)) && retries < 2) {
          dataPath = after._1; ver = after._2; retries += 1
          top = null // straddled a swap: serve the new generation instead
        } else if (after != ((dataPath, ver))) {
          // three overlapping swaps in one statement exceeds the retry
          // budget — serve the last pass (availability) but never
          // silently: the result may span two store generations
          logWarning(s"searchStore($path): store version still changing " +
            s"after $retries retries; serving a possibly mixed-generation result")
        }
      }
    }
    top.map { case (d, id) => (id, d) }
  }
}
