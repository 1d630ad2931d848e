package graft.sql

import graft.core.{TableDefinition, TableVersion}
import graft.operators.{TableStats, VersionedTables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/**
 * Transparent manifest-driven data skipping at OPTIMIZER time — the Delta
 * `PrepareDeltaScan` pattern re-expressed for graft's commit-time stats
 * manifests ([[graft.operators.TableStats]]).
 *
 * `readWhere`/`readAtWhere` prune files eagerly because the caller hands
 * them the predicate up front. SQL text (`SELECT … FROM graft.s.t WHERE …`)
 * and the plain Scala composition (`engine.read(table).filter(…)`) cannot:
 * the relation is built before any predicate exists. This rule closes that
 * gap where predicates DO become known — in the optimized plan:
 *
 *   1. [[VersionedTables.readVersion]] records every file relation it
 *      builds for a stats-declaring table in [[GraftScanRegistry]]
 *      (weakly — entries die with their relations);
 *   2. after operator optimization has pushed predicates down (pre-CBO, so
 *      the swap runs ONCE per query and join-size estimation sees the
 *      shrunken scan), [[GraftDataSkipping]] matches `Filter` directly over
 *      a recorded relation, runs the same conservative planner as the eager
 *      path ([[TableStats.planRead]] — one cached manifest read per
 *      distinct version label, no Spark job), and when files are provably
 *      irrelevant swaps in a [[PrunedGraftFileIndex]] over the SAME
 *      relation: identical output attributes, schema and partitioning, just
 *      fewer files and an honestly smaller `sizeInBytes` (so a pruned side
 *      can become broadcastable).
 *
 * The `Filter` itself always stays in the plan — like every other skipping
 * path, pruning can only shrink IO, never change results (the
 * `readWhere ≡ read().filter` law battery extends to this path in
 * SqlSkippingSpec). Any planner failure falls back to the unpruned plan.
 *
 * Scope guards: only relations recorded by `readVersion` (stats-declaring
 * tables, cleanly versioned states) are candidates; everything else —
 * including every graft table without a [[graft.core.ColumnStatsConfig]] —
 * passes through untouched. Set `spark.graft.dataSkipping.enabled=false`
 * to turn the rule off per session or per query (specs use this to build
 * genuinely-unpruned reference frames).
 */
final case class GraftDataSkipping(session: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    session.conf.get(GraftDataSkipping.EnabledKey, "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation) =>
        lr.relation match {
          case fsRel: HadoopFsRelation =>
            GraftScanRegistry.lookup(fsRel) match {
              case Some(e) => prune(f, cond, lr, fsRel, e)
              case None    => f
            }
          case _ => f
        }
    }

  private def prune(
      original: Filter,
      cond: Expression,
      lr: LogicalRelation,
      fsRel: HadoopFsRelation,
      entry: GraftScanRegistry.Entry): LogicalPlan =
    try {
      val decision = TableStats.planRead(entry.engine, entry.table, entry.version, cond)
      val prunesAnything = decision.partitionsKept < decision.partitionsTotal ||
        decision.filesKept < decision.filesSeen
      if (!prunesAnything) original
      else {
        val pruned = new PrunedGraftFileIndex(fsRel.location, decision.paths)
        Filter(cond, lr.copy(relation = fsRel.copy(location = pruned)(fsRel.sparkSession)))
      }
    } catch {
      // skipping is an optimization: a planner failure (e.g. a manifest
      // deleted mid-flight by vacuum) must degrade to the full scan, not
      // fail the query
      case NonFatal(_) => original
    }
}

object GraftDataSkipping {
  val EnabledKey = "spark.graft.dataSkipping.enabled"
}

/**
 * Metadata-only aggregate rewrite for SQL text — the companion of
 * [[GraftDataSkipping]] and the optimizer-time face of
 * [[graft.operators.MetadataQuery]] (the Delta
 * `OptimizeMetadataOnlyDeltaQuery` pattern): a global (no GROUP BY, no
 * WHERE) `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` over a
 * recorded stats-declaring relation is answered from the commit-time
 * manifests and replaced with a one-row [[LocalRelation]] — the "scan"
 * disappears from the plan entirely, so
 * `SELECT COUNT(*) FROM graft.s.t [VERSION AS OF …]` costs cached
 * manifest reads, not a cluster sweep.
 *
 * Rewrite happens ONLY when it is provably exact:
 *   - every aggregate is plain (no DISTINCT, no FILTER clause) and one of
 *     the four supported shapes over a direct column / literal;
 *   - the child is the recorded relation, at most behind a column-pruning
 *     Project and an optional pushed-down Filter. A Filter referencing any
 *     DATA column disqualifies (that plan belongs to [[GraftDataSkipping]]
 *     instead); a deterministic Filter over PARTITION columns only is
 *     evaluated two-valued against each partition's known value and the
 *     fold covers just the kept partitions;
 *   - [[graft.operators.MetadataQuery.foldFullyCovered]] answers, i.e.
 *     EVERY file of EVERY partition is metadata-decidable for the touched
 *     columns (bounds present and decodable; NaN/±Inf-touched files make
 *     it refuse). Any doubt → the plan is left alone and Spark scans.
 * The replacement keeps the Aggregate's exact output attributes, so
 * nothing above the node can tell — except that the files are never read
 * (SqlSkippingSpec corrupts all of them to prove it). Disable with the
 * shared `spark.graft.dataSkipping.enabled=false`.
 */
final case class GraftMetadataAggregate(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, BindReferences, Cast, EvalMode, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LocalRelation, Project, Repartition}
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String
  import graft.core.{PathCodec, Partition}
  import graft.operators.MetadataQuery

  private def enabled: Boolean =
    session.conf.get(GraftDataSkipping.EnabledKey, "true").toBoolean

  /** What one aggregate output asks of the manifests. */
  private sealed trait Req
  private case object CountStar extends Req
  private final case class CountCol(c: String) extends Req
  private final case class MinCol(c: String) extends Req
  private final case class MaxCol(c: String) extends Req

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case agg @ Aggregate(groupingExprs, aggExprs, FilteredScan(cond, entry), _)
          if groupingExprs.isEmpty =>
        rewrite(agg, aggExprs, cond, entry).getOrElse(agg)
      case agg @ Aggregate(groupingExprs, aggExprs, FilteredScan(cond, entry), _)
          if groupingExprs.nonEmpty =>
        rewriteGrouped(agg, groupingExprs, aggExprs, cond, entry).getOrElse(agg)
    }

  /** The recorded relation, at most behind pure column pruning, an
    * optional pushed-down Filter (conjoined if several) and the
    * one-partition coalesce a small `readVersion` puts on top (partitioning
    * never changes an aggregate's answer). */
  private object FilteredScan {
    def unapply(p: LogicalPlan): Option[(Option[Expression], GraftScanRegistry.Entry)] =
      p match {
        case lr: LogicalRelation =>
          lr.relation match {
            case fs: HadoopFsRelation => GraftScanRegistry.lookup(fs).map((None, _))
            case _                    => None
          }
        case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
          unapply(child)
        case Repartition(1, false, child) => unapply(child)
        case LFilter(c, child) =>
          unapply(child).map { case (inner, e) =>
            (Some(inner.fold(c)(And(c, _))), e)
          }
        case _ => None
      }
  }

  private def requestOf(e: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : Option[Req] = e match {
    case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null       => Some(CountStar)
        case Count(Seq(a: AttributeReference))            => Some(CountCol(a.name.toLowerCase))
        case Min(a: AttributeReference)                   => Some(MinCol(a.name.toLowerCase))
        case Max(a: AttributeReference)                   => Some(MaxCol(a.name.toLowerCase))
        case _                                            => None
      }
    case _ => None
  }

  /** Partition-value decoding is trusted only for types whose path
    * representation round-trips unambiguously through a string cast. */
  private def partitionEvalSafe(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | DateType => true
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType | _: DecimalType => true
    case _ => false // timestamps etc.: path encoding is not a plain cast
  }

  private def rewrite(
      agg: Aggregate,
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      cond: Option[Expression],
      entry: GraftScanRegistry.Entry): Option[LogicalPlan] =
    try {
      val reqs = aggExprs.map(requestOf)
      if (reqs.exists(_.isEmpty)) return None
      val partitionColNames =
        entry.table.partitionSchema.columns.map(_.name.toLowerCase).toSet
      val requested = reqs.flatten.collect {
        case CountCol(c) => c; case MinCol(c) => c; case MaxCol(c) => c
      }.distinct
      val dataCols = requested.filterNot(partitionColNames.contains)
      // only MIN/MAX targets need decodable per-file bounds; a COUNT(col)
      // needs just the (always-exact) null counts, so a NaN-touched file
      // doesn't force the scan fallback for it
      val boundsCols = reqs.flatten.collect {
        case MinCol(c) => c; case MaxCol(c) => c
      }.toSet -- partitionColNames

      // aggregated partition columns: their Spark types come from the
      // aggregate's own attribute references
      val attrTypes: Map[String, DataType] = aggExprs.flatMap(_.collect {
        case a: AttributeReference => a.name.toLowerCase -> a.dataType
      }).toMap
      val partitionCols: Map[String, DataType] = requested
        .filter(partitionColNames.contains)
        .flatMap(c => attrTypes.get(c).map(c -> _)).toMap
      if (requested.count(partitionColNames.contains) != partitionCols.size) return None
      if (!partitionCols.values.forall(partitionEvalSafe)) return None

      // the WHERE, if any, must be an EXACT per-partition decision:
      // deterministic, referencing ONLY partition columns of eval-safe
      // types — a partition's values are known scalars, so evaluation is
      // two-valued (no "maybe" as in file skipping). Outer None = refuse
      // the rewrite; inner None = no selection at all (the only form a
      // snapshot version accepts — foldCoveredSelected enforces that)
      val keep: Option[Option[Partition => Boolean]] = cond match {
        case None => Some(None)
        case Some(c) =>
          val refs = c.collect { case a: AttributeReference => a }
          val refNames = refs.map(_.name.toLowerCase).distinct
          if (!c.deterministic || refs.isEmpty ||
              !refNames.forall(partitionColNames.contains) ||
              !refs.forall(a => partitionEvalSafe(a.dataType))) None
          else {
            val attrs = refs.distinctBy(_.exprId)
            val bound = BindReferences.bindReference(c, attrs)
            Some(Some { (p: Partition) =>
              val values = attrs.map { a =>
                p.columnValues.find(_.column.name.equalsIgnoreCase(a.name)) match {
                  case None => throw new IllegalStateException(
                    s"partition ${p.toPath} lacks column ${a.name}")
                  case Some(cv) if cv.value == PathCodec.DefaultPartitionName => null
                  case Some(cv) =>
                    val casted = Cast(
                      Literal(UTF8String.fromString(cv.value), StringType),
                      a.dataType, Option(SQLConf.get.sessionLocalTimeZone),
                      EvalMode.LEGACY).eval(null)
                    if (casted == null) throw new IllegalStateException(
                      s"partition value '${cv.value}' does not cast to ${a.dataType}")
                    casted
                }
              }
              bound.eval(InternalRow.fromSeq(values)) == true
            })
          }
      }

      keep.flatMap { k =>
        MetadataQuery.foldCoveredSelected(
            entry.engine, entry.table, entry.version, dataCols, partitionCols, k,
            boundsFor = Some(boundsCols))
          .map { fold =>
            val values: Seq[Any] = reqs.flatten.map {
              case CountStar   => fold.rows
              case CountCol(c) => fold.rows - fold.cols(c).nulls
              case MinCol(c)   => fold.cols(c).min.orNull
              case MaxCol(c)   => fold.cols(c).max.orNull
            }
            LocalRelation.fromExternalRows(agg.output, Seq(Row.fromSeq(values)))
          }
      }
    } catch {
      // answering from metadata is an optimization: any surprise (manifest
      // vanished mid-flight, undecodable value, partition/plan mismatch)
      // degrades to the real scan
      case NonFatal(_) => None
    }

  /** `SELECT day, COUNT(*) … GROUP BY day` — THE ops-dashboard query —
    * answered from manifests when every grouping expression is a DIRECT
    * partition-column attribute of an eval-safe type: each partition's
    * value is a known scalar, so the partitions group EXACTLY (no "maybe"),
    * and each group folds like a partition-filtered global aggregate. Emits
    * a multi-row [[LocalRelation]] (row order is irrelevant — GROUP BY
    * guarantees none). Refusals mirror the global path: any grouping
    * expression that is a data column or a FUNCTION of a partition column,
    * any unsupported aggregate shape, any WHERE touching data columns, any
    * group with a not-fully-covered partition → the real scan runs. A
    * HAVING clause is a Filter ABOVE the Aggregate and composes untouched. */
  private def rewriteGrouped(
      agg: Aggregate,
      groupingExprs: Seq[Expression],
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      cond: Option[Expression],
      entry: GraftScanRegistry.Entry): Option[LogicalPlan] =
    try {
      import graft.core.PartitionedTableVersion
      val partitionColNames =
        entry.table.partitionSchema.columns.map(_.name.toLowerCase).toSet
      // every grouping expression: a direct, eval-safe partition attribute
      val groupAttrs: Seq[AttributeReference] = groupingExprs.map {
        case a: AttributeReference
            if partitionColNames.contains(a.name.toLowerCase) &&
              partitionEvalSafe(a.dataType) => a
        case _ => return None
      }
      // classify outputs: a pass-through of a grouping attribute, or one of
      // the four supported aggregate shapes
      sealed trait Out
      final case class Key(i: Int) extends Out
      final case class Agg(r: Req) extends Out
      val outs: Seq[Out] = aggExprs.map { e =>
        val keyOf: Option[Int] = e match {
          case a: AttributeReference =>
            Some(groupAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
          case Alias(a: AttributeReference, _) =>
            Some(groupAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
          case _ => None
        }
        keyOf.map(Key(_)).orElse(requestOf(e).map(Agg(_))).getOrElse(return None)
      }
      val reqs = outs.collect { case Agg(r) => r }
      val requested = reqs.collect {
        case CountCol(c) => c; case MinCol(c) => c; case MaxCol(c) => c
      }.distinct
      val dataCols = requested.filterNot(partitionColNames.contains)
      val boundsCols = reqs.collect {
        case MinCol(c) => c; case MaxCol(c) => c
      }.toSet -- partitionColNames
      val attrTypes: Map[String, DataType] = aggExprs.flatMap(_.collect {
        case a: AttributeReference => a.name.toLowerCase -> a.dataType
      }).toMap
      val partitionCols: Map[String, DataType] = requested
        .filter(partitionColNames.contains)
        .flatMap(c => attrTypes.get(c).map(c -> _)).toMap
      if (requested.count(partitionColNames.contains) != partitionCols.size) return None
      if (!partitionCols.values.forall(partitionEvalSafe)) return None

      // the WHERE, if any: the same exact two-valued per-partition decision
      // as the global path
      val keep: Option[Partition => Boolean] = cond match {
        case None => None
        case Some(c) =>
          val refs = c.collect { case a: AttributeReference => a }
          val refNames = refs.map(_.name.toLowerCase).distinct
          if (!c.deterministic || refs.isEmpty ||
              !refNames.forall(partitionColNames.contains) ||
              !refs.forall(a => partitionEvalSafe(a.dataType))) return None
          val attrs = refs.distinctBy(_.exprId)
          val bound = BindReferences.bindReference(c, attrs)
          Some { (p: Partition) =>
            val values = attrs.map { a =>
              p.columnValues.find(_.column.name.equalsIgnoreCase(a.name)) match {
                case None => throw new IllegalStateException(
                  s"partition ${p.toPath} lacks column ${a.name}")
                case Some(cv) if cv.value == PathCodec.DefaultPartitionName => null
                case Some(cv) =>
                  val casted = Cast(
                    Literal(UTF8String.fromString(cv.value), StringType),
                    a.dataType, Option(SQLConf.get.sessionLocalTimeZone),
                    EvalMode.LEGACY).eval(null)
                  if (casted == null) throw new IllegalStateException(
                    s"partition value '${cv.value}' does not cast to ${a.dataType}")
                  casted
              }
            }
            bound.eval(InternalRow.fromSeq(values)) == true
          }
      }

      val pvs = entry.version match {
        case PartitionedTableVersion(m) => m
        case _ => return None // snapshot tables have no partition columns
      }
      val kept = keep.fold(pvs)(k => pvs.filter(kv => k(kv._1)))

      // group the kept partitions by their DECODED grouping values (decoded,
      // not raw, so path spellings of the same value land in one group);
      // NaN group keys refuse — Spark normalizes NaN grouping, driver-side
      // Seq equality would not
      val groups: Map[Seq[Any], Map[Partition, graft.core.Version]] =
        kept.groupBy { case (p, _) =>
          groupAttrs.map { a =>
            p.columnValues.find(_.column.name.equalsIgnoreCase(a.name)) match {
              case None => return None
              case Some(cv) if cv.value == PathCodec.DefaultPartitionName =>
                null
              case Some(cv) =>
                MetadataQuery.externalValue(a.dataType, cv.value) match {
                  case Some(d: java.lang.Double) if d.isNaN => return None
                  case Some(f: java.lang.Float) if f.isNaN  => return None
                  case Some(v)                              => v
                  case None                                 => return None
                }
            }
          }
        }

      // fold every group entirely from manifests; ANY uncovered group
      // refuses the whole rewrite (a half-metadata GROUP BY would have to
      // stitch a scan per residue group — that plan belongs to Spark)
      val folded: Seq[(Seq[Any], MetadataQuery.CoveredFold)] =
        groups.toSeq.map { case (key, groupPvs) =>
          MetadataQuery.foldCoveredSelected(
            entry.engine, entry.table, PartitionedTableVersion(groupPvs),
            dataCols, partitionCols, keep = None, boundsFor = Some(boundsCols)) match {
            case Some(f) => key -> f
            case None    => return None
          }
        }

      val rows = folded.map { case (key, fold) =>
        Row.fromSeq(outs.map {
          case Key(i)            => key(i)
          case Agg(CountStar)    => fold.rows
          case Agg(CountCol(c))  => fold.rows - fold.cols(c).nulls
          case Agg(MinCol(c))    => fold.cols(c).min.orNull
          case Agg(MaxCol(c))    => fold.cols(c).max.orNull
        })
      }
      Some(LocalRelation.fromExternalRows(agg.output, rows))
    } catch {
      case NonFatal(_) => None
    }
}

/**
 * What [[VersionedTables.readVersion]] records so the optimizer rule can
 * identify a file relation as "version X of graft table T": a WEAK map from
 * the relation object to its provenance. Entries are collected with their
 * relations — a new commit builds a new relation, and old queries' entries
 * vanish once their plans do. Lookups happen once per `Filter`-over-relation
 * node per query optimization: a map get, no IO.
 */
object GraftScanRegistry {

  final case class Entry(engine: VersionedTables, table: TableDefinition, version: TableVersion)

  private val entries = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[HadoopFsRelation, Entry]())

  /** Record every file relation in `df`'s analyzed plan as a read of
    * `version` of `table`. Called by `readVersion` for cleanly-versioned
    * states of stats-declaring tables; forcing analysis here is driver-only
    * work the first consumer would pay anyway. */
  def record(df: DataFrame, engine: VersionedTables, table: TableDefinition,
      version: TableVersion): Unit =
    try {
      df.queryExecution.analyzed.foreach {
        case lrel: LogicalRelation =>
          lrel.relation match {
            case fs: HadoopFsRelation => entries.put(fs, Entry(engine, table, version)); ()
            case _                    => ()
          }
        case _ => ()
      }
    } catch { case NonFatal(_) => () }

  def lookup(rel: HadoopFsRelation): Option[Entry] = Option(entries.get(rel))
}

/**
 * A [[FileIndex]] view of `underlying` restricted to the load paths a
 * [[TableStats.planRead]] decision kept. Kept paths are FILES (manifest
 * entries) or whole DIRECTORIES (partitions whose version has no manifest
 * and must be read unpruned); a listed file survives iff it IS a kept path
 * or sits UNDER one. Matching is scheme-normalized (`Path.toUri.getPath`)
 * and resolved with one floor lookup in a sorted set — kept entries never
 * nest, so the floor entry is the only possible owner of a file.
 *
 * Everything else delegates: same roots, same partition schema and values,
 * same metadata — Catalyst's own partition pruning and the parquet
 * row-group machinery stack on top exactly as they do unpruned.
 * `sizeInBytes` sums only surviving files, so join-size estimation (and
 * broadcast eligibility) sees the real post-skip scan size.
 */
final class PrunedGraftFileIndex(underlying: FileIndex, keptLoadPaths: Seq[String])
    extends FileIndex {

  private val kept: java.util.TreeSet[String] = {
    val s = new java.util.TreeSet[String]()
    keptLoadPaths.foreach(p => s.add(normalize(new Path(p))))
    s
  }

  private def normalize(p: Path): String = p.toUri.getPath

  private def keep(p: Path): Boolean = {
    val s = normalize(p)
    val floor = kept.floor(s)
    floor != null && (floor == s || s.startsWith(floor + "/"))
  }

  override def rootPaths: Seq[Path] = underlying.rootPaths

  override def partitionSchema: StructType = underlying.partitionSchema

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f => keep(f.getPath))))
      .filter(_.files.nonEmpty)

  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(s => keep(new Path(s)))

  // cached but refresh-aware: a lazy val would keep reporting the
  // pre-refresh size after refresh() re-listed the underlying index
  // (affects only CBO estimates, never results)
  @volatile private var sizeCache: java.lang.Long = null

  override def refresh(): Unit = { sizeCache = null; underlying.refresh() }

  override def sizeInBytes: Long = {
    val cached = sizeCache
    if (cached != null) cached.longValue
    else {
      val s = listFiles(Nil, Nil).iterator.flatMap(_.files).map(_.getLen).sum
      sizeCache = java.lang.Long.valueOf(s)
      s
    }
  }

  override def metadataOpsTimeNs: Option[Long] = underlying.metadataOpsTimeNs
}
