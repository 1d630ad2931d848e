package graft.sql

import graft.core._
import graft.operators.VersionedTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.TimestampType

/**
 * SQL-native access to graft versioned tables, including Spark 4's native
 * time-travel syntax:
 *
 * {{{
 *   GraftTableRegistry.register(engine, table)        // once per table
 *   spark.sql("SELECT * FROM graft.sales.accounts")   // current version
 *   spark.sql("SELECT * FROM graft.sales.accounts VERSION AS OF '<commit-id>'")
 *   spark.sql("SELECT * FROM graft.sales.accounts TIMESTAMP AS OF '2024-03-01 00:00:00'")
 * }}}
 *
 * The binding is a RESOLUTION RULE injected through the standard
 * `SparkSessionExtensions` hook ([[graft.functions.GraftExtensions]], so
 * `spark.sql.extensions=graft.functions.GraftExtensions` turns it on): a
 * relation named `graft.<schema>.<table>` — the parser's
 * `RelationTimeTravel` wrapper included — is substituted with the ANALYZED
 * plan of the exact engine read (`read` / `readAt` / `readAsOf`), resolved
 * through the version tracker.
 *
 * Why a rule rather than a DataSource V2 `TableCatalog` serving its own
 * `Table`: the substituted plan IS the engine's battle-tested v1 parquet
 * relation — identical partition pruning, filter pushdown, schema, and
 * (crucially) the same multi-directory version resolution every other read
 * path uses, with the internal `_version` column already dropped. A custom
 * DSv2 `Table` would either re-implement that scan stack or lean on
 * Spark-internal `FileTable` classes and leak `_version` as a partition
 * column into `SELECT *`. The rule keeps the public SQL surface (the part
 * users see) native while reusing the one read implementation. Plan note:
 * PLANS.md `q_sql_time_travel` shows pruning reaching the scan through
 * this path.
 *
 * Commit pinning happens at RESOLUTION time: each `spark.sql` call reads
 * the tracker's state when it is analyzed, exactly like the Scala API —
 * and unlike a temp view, which freezes the version it was created at.
 * `VERSION AS OF` accepts a commit id or a TAG name (tags are the durable
 * pins vacuum never reclaims — `VERSION AS OF 'model-v3-train'` is the
 * SQL spelling of `readAtTag`).
 *
 * File skipping: the relation is substituted at resolution time, before
 * any predicate is known — so the manifest-driven per-FILE skipping of
 * [[graft.operators.TableStats]] is applied LATER, at optimizer time, by
 * [[GraftDataSkipping]] once predicate pushdown has placed the `WHERE`
 * next to the scan. `SELECT … WHERE …` over a stats-declaring table prunes
 * exactly like `readWhere` (SqlSkippingSpec pins both the plan swap and
 * the never-reads-pruned-files law); tables without a
 * [[graft.core.ColumnStatsConfig]] read unpruned as before.
 */
object GraftTableRegistry {

  /** The catalog-style first name part reserved for graft tables. */
  val CatalogName = "graft"

  /** A registered table. `declared` carries the column schema a SQL
    * `CREATE TABLE` statement declared — the engine itself stays
    * first-write-defines-schema, so the declaration's one job is aligning
    * the FIRST `INSERT INTO` (names, order, types) to what the DDL said. */
  final case class Entry(
      engine: VersionedTables,
      table: TableDefinition,
      declared: Option[org.apache.spark.sql.types.StructType] = None)

  /** A schema (namespace) that accepts SQL `CREATE TABLE`: new tables are
    * initialized through `engine` and live under `baseLocation/<table>`. */
  final case class SchemaEntry(
      engine: VersionedTables,
      baseLocation: java.net.URI,
      defaultFormat: FileFormat = FileFormat.Parquet)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, SchemaEntry]()

  private def key(n: TableName): (String, String) =
    (n.schema.toLowerCase, n.name.toLowerCase)

  /** Make `graft.<schema>.<table>` resolvable in SQL text on every session
    * whose extensions include [[graft.functions.GraftExtensions]].
    * Re-registration replaces (latest engine wins). */
  def register(engine: VersionedTables, table: TableDefinition): Unit = {
    entries.put(key(table.name), Entry(engine, table)); ()
  }

  private[sql] def registerCreated(
      engine: VersionedTables,
      table: TableDefinition,
      declared: org.apache.spark.sql.types.StructType): Unit = {
    entries.put(key(table.name), Entry(engine, table, Some(declared))); ()
  }

  /** Open `graft.<schema>.*` to SQL DDL: `CREATE TABLE graft.<schema>.<t>`
    * initializes a versioned table through `engine` at
    * `baseLocation/<t>`. Schemas never registered stay read-only for DDL
    * (the pre-round-13 behavior). */
  def registerSchema(
      schema: String,
      engine: VersionedTables,
      baseLocation: java.net.URI,
      defaultFormat: FileFormat = FileFormat.Parquet): Unit = {
    schemas.put(schema.toLowerCase, SchemaEntry(engine, baseLocation, defaultFormat)); ()
  }

  def unregisterSchema(schema: String): Unit = { schemas.remove(schema.toLowerCase); () }

  def lookupSchema(schema: String): Option[SchemaEntry] =
    Option(schemas.get(schema.toLowerCase))

  def unregister(name: TableName): Unit = { entries.remove(key(name)); () }

  def lookup(schema: String, table: String): Option[Entry] =
    Option(entries.get((schema.toLowerCase, table.toLowerCase)))

  /** [[lookup]] that additionally ADOPTS tracker-live tables of a
    * DDL-registered schema. A table created by another process exists in
    * the shared commit store but was never registered in this JVM; before
    * adoption it was half-visible — `CREATE TABLE` refused the name (the
    * tracker guard) yet SELECT/DESCRIBE/DML could not resolve it. The
    * definition is reconstructed from the store exactly as
    * [[GraftDdl.create]] would have built it: location
    * `baseLocation/<table>`, partition columns read off the current
    * state's partitions, the schema's default format (a format mismatch
    * fails loudly at read time — never silently). A PARTITIONED table
    * with no data commits yet cannot be reconstructed (its partition
    * columns are unknowable from an empty state) and stays unresolvable
    * until its creator writes to it. Adoption registers the entry, so
    * later statements hit the plain lookup. */
  def resolve(schema: String, table: String): Option[Entry] =
    lookup(schema, table).orElse {
      lookupSchema(schema).flatMap { se =>
        val tn = TableName(schema.toLowerCase, table.toLowerCase)
        val live =
          try se.engine.tracker.tables().contains(tn)
          catch { case scala.util.control.NonFatal(_) => false }
        if (!live) None
        else {
          val isSnap = se.engine.tracker.isSnapshotTable(tn)
          val partCols: List[String] = se.engine.tracker.currentVersion(tn) match {
            case PartitionedTableVersion(pvs) if pvs.nonEmpty =>
              pvs.keysIterator.next().columnValues.map(_.column.name)
            case _ => Nil
          }
          if (!isSnap && partCols.isEmpty) None
          else {
            val base = se.baseLocation.toString.stripSuffix("/")
            val td = TableDefinition(
              tn, java.net.URI.create(s"$base/${tn.name}"),
              if (isSnap) PartitionSchema.snapshot
              else PartitionSchema(partCols.head, partCols.tail: _*),
              se.defaultFormat)
            register(se.engine, td)
            Some(Entry(se.engine, td))
          }
        }
      }
    }

  import scala.jdk.CollectionConverters._

  /** Registered table names, for error messages and tooling. */
  def registered: Seq[TableName] =
    entries.keys().asIterator().asScala.map { case (s, t) => TableName(s, t) }.toSeq
      .sortBy(_.fullyQualifiedName)
}

/**
 * The namespace owner for `graft.*.*` names: a minimal DataSource V2
 * [[org.apache.spark.sql.connector.catalog.TableCatalog]] registered as
 * `spark.sql.catalog.graft=graft.sql.GraftCatalogPlugin`. Without it,
 * Spark's relation resolution routes a three-part name to the SESSION
 * catalog and fails with REQUIRES_SINGLE_PART_NAMESPACE before any
 * extension rule can run. This catalog claims the name space — `SHOW
 * TABLES IN graft.x` and `tableExists` answer from the registry — while
 * every `loadTable` variant reports "no such table", which resolution
 * treats as unresolved-for-now, handing the relation to
 * [[ResolveGraftTables]] in the same fixed point. The actual read plan
 * never goes through a DSv2 `Table` (see [[GraftTableRegistry]] for why).
 */
final class GraftCatalogPlugin
    extends org.apache.spark.sql.connector.catalog.TableCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableChange}
  import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, NoSuchNamespaceException}

  private var catalogName: String = GraftTableRegistry.CatalogName
  override def initialize(name: String,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespace match {
      case Array(schema) =>
        GraftTableRegistry.registered.filter(_.schema == schema.toLowerCase)
          .map(t => Identifier.of(Array(t.schema), t.name)).toArray
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  // existence consults the registry AND (for DDL-opened schemas) the
  // schema engine's TRACKER: a table created by another process exists in
  // the shared store even when this JVM never registered it — CREATE must
  // not silently re-bind it (initTable would no-op and the registry would
  // carry a possibly mismatched definition)
  override def tableExists(ident: Identifier): Boolean =
    ident.namespace() match {
      case Array(schema) =>
        GraftTableRegistry.lookup(schema, ident.name()).isDefined ||
          GraftTableRegistry.lookupSchema(schema).exists(
            _.engine.tracker.tables().contains(TableName(schema, ident.name())))
      case _ => false
    }

  // Resolution treats NoSuchTableException as "not resolvable HERE" and
  // leaves the relation unresolved — which is exactly what hands it to the
  // ResolveGraftTables rule within the same fixed point. All three
  // loadTable variants (plain, VERSION AS OF, TIMESTAMP AS OF) defer the
  // same way.
  override def loadTable(ident: Identifier): Table =
    throw new NoSuchTableException(ident.asMultipartIdentifier)
  override def loadTable(ident: Identifier, version: String): Table =
    throw new NoSuchTableException(ident.asMultipartIdentifier)
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    throw new NoSuchTableException(ident.asMultipartIdentifier)

  private def unsupported(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog: $op is not supported — a versioned store's history outlives " +
        "any one definition, so destructive DDL stays a deliberate engine/CLI act " +
        "(CREATE TABLE [AS SELECT] works for schemas opened via registerSchema)")

  /** `CREATE TABLE graft.<schema>.<t> (cols…) [USING fmt] [PARTITIONED BY
    * (identity cols)] [LOCATION uri] [TBLPROPERTIES (stats.columns=…,
    * stats.bloomKeys=…, stats.bloomExpectedItems=…)]` — allowed only for
    * schemas opened with [[GraftTableRegistry.registerSchema]]: the table
    * is initialized through that schema's engine (an `InitTable` commit at
    * `baseLocation/<t>` unless LOCATION overrides) and registered, so
    * every later SQL statement resolves it. The DECLARED column schema is
    * remembered and aligns the first `INSERT INTO` (the engine itself
    * stays first-write-defines-schema). Only identity partitioning — a
    * bucket/days transform has no versioned-directory meaning here. */
  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    val schemaName = ident.namespace() match {
      case Array(s) => s
      case other => throw new NoSuchNamespaceException(other)
    }
    val owner = GraftTableRegistry.lookupSchema(schemaName).getOrElse(
      unsupported(s"CREATE TABLE in schema '$schemaName' (no engine registered for it " +
        "— GraftTableRegistry.registerSchema opens a schema to SQL DDL)"))
    val partCols: Seq[String] = GraftDdl.identityPartCols(partitions.toSeq)
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap
    }
    // defense in depth behind tableExists: Spark checks it first, but a
    // direct createTable call (or a race) must not re-bind a tracker-live
    // table — initTable would silently no-op on it
    if (owner.engine.tracker.tables().contains(TableName(schemaName, ident.name())))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        ident.asMultipartIdentifier)
    GraftDdl.create(owner, schemaName, ident.name(), schema, partCols, props)
    new GraftCreatedTable(ident, schema, partitions)
  }
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    unsupported("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean = unsupported("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    unsupported("RENAME TABLE")

  implicit private class IdentOps(ident: Identifier) {
    def asMultipartIdentifier: Seq[String] = ident.namespace().toSeq :+ ident.name()
  }
}

/** Shared SQL-DDL table construction: CREATE TABLE (catalog path) and
  * CTAS (rule path) build the same [[graft.core.TableDefinition]] from
  * the declared columns, identity partition names, and table properties
  * (`provider`/`format`, `location`, `stats.columns`/`stats.bloomKeys`/
  * `stats.bloomExpectedItems`), commit `InitTable` through the schema's
  * registered engine, and register the table with its declared schema. */
private[sql] object GraftDdl {
  def create(
      owner: GraftTableRegistry.SchemaEntry,
      schemaName: String,
      tableName: String,
      declared: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      props: Map[String, String]): TableDefinition = {
    partCols.foreach { c =>
      require(declared.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"partition column '$c' is not in the declared schema")
    }
    val format = props.get("provider").orElse(props.get("format")) match {
      case None | Some("") => owner.defaultFormat
      case Some(f) => f.toLowerCase match {
        case "parquet" => FileFormat.Parquet
        case "orc"     => FileFormat.Orc
        case "csv"     => FileFormat.Csv
        case "json"    => FileFormat.Json
        case other => throw new UnsupportedOperationException(
          s"graft catalog: USING $other is not supported (parquet/orc/csv/json)")
      }
    }
    val location = props.get("location") match {
      case Some(loc) if loc.nonEmpty => java.net.URI.create(loc)
      case _ =>
        val base = owner.baseLocation.toString.stripSuffix("/")
        java.net.URI.create(s"$base/$tableName")
    }
    val stats = props.get("stats.columns").map { cols =>
      ColumnStatsConfig(
        statsColumns = cols.split(",").map(_.trim).filter(_.nonEmpty).toList,
        bloomKeyColumns = props.get("stats.bloomKeys")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toList).getOrElse(Nil),
        bloomExpectedItems = props.get("stats.bloomExpectedItems")
          .map(_.toLong).getOrElse(100000L))
    }
    val table = TableDefinition(
      TableName(schemaName, tableName), location,
      if (partCols.isEmpty) PartitionSchema.snapshot
      else PartitionSchema(partCols.head, partCols.tail: _*),
      format, stats = stats)
    val user = UserId(props.getOrElse("owner", "sql"))
    owner.engine.initTable(table, user, s"SQL CREATE TABLE graft.$schemaName.$tableName")
    GraftTableRegistry.registerCreated(owner.engine, table, declared)
    table
  }

  /** Identity transforms → partition column names; anything else refuses. */
  def identityPartCols(
      partitions: Seq[org.apache.spark.sql.connector.expressions.Transform]): Seq[String] =
    partitions.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references.head.fieldNames.mkString(".")
      else throw new UnsupportedOperationException(
        s"graft catalog: PARTITIONED BY $t is not supported — identity " +
          "partition columns only (versioned directories are value-partitioned)")
    }
}

/** The value [[GraftCatalogPlugin.createTable]] returns — Spark's CREATE
  * TABLE exec requires a [[org.apache.spark.sql.connector.catalog.Table]]
  * but discards it; reads and writes never route through it (the
  * resolution rule owns both), so it advertises NO capabilities. */
private[sql] final class GraftCreatedTable(
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    declared: org.apache.spark.sql.types.StructType,
    partitions: Array[org.apache.spark.sql.connector.expressions.Transform])
    extends org.apache.spark.sql.connector.catalog.Table {
  override def name(): String = (ident.namespace() :+ ident.name()).mkString(".")
  override def schema(): org.apache.spark.sql.types.StructType = declared
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitions
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.Collections.emptySet()
}

/** The resolution rule: substitute `graft.*.*` relations (time-traveled or
  * not) with the engine's analyzed read plan. Runs inside the analyzer's
  * resolution fixed point; non-graft names pass through untouched. */
final case class ResolveGraftTables(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, SubqueryExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}

  /** Re-express a condition/assignment RESOLVED against the substituted
    * analysis-time read plan as a BY-NAME expression: the DML command
    * re-resolves it against the execution-time read, so the statement
    * always acts on the current head, never the analysis-time snapshot.
    * Names are unambiguous over a single table; subqueries and
    * nondeterministic conditions are refused loudly (a predicate that is
    * evaluated twice — match discovery and rewrite — must be stable). */
  private def byName(e: Expression): org.apache.spark.sql.Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      "subqueries in DELETE/UPDATE on graft tables are not supported — " +
        "materialize the subquery and use mergeInto, or filter into a new table")
    require(e.deterministic,
      "DELETE/UPDATE conditions on graft tables must be deterministic")
    org.apache.spark.sql.GraftSqlBridge.column(
      inlineCommonExpressions(e).transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })
  }

  /** Inline every `With` common expression (Spark 4.1 analyzes `BETWEEN`
    * into one, so the tested value is computed once) back into its uses.
    * A `With` cannot hold name-unresolved attributes: rebuilding it asks
    * each definition for its data type, so the by-name re-expressions
    * below would throw on any `BETWEEN`. The conditions are deterministic,
    * so evaluating a definition at each use is the same predicate. */
  private def inlineCommonExpressions(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, With}
    e.transformUp { case w: With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp { case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id) }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // The TABLE child of a graft-targeted InsertIntoStatement must NOT be
    // substituted with a read plan (Spark would then convert the insert
    // into a raw file write straight into the version directories,
    // bypassing the commit protocol). Guard by IDENTITY — case-class
    // equality would also shield the SOURCE relation of
    // `INSERT INTO graft.g.t SELECT * FROM graft.g.t`.
    val insertTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[UnresolvedRelation, java.lang.Boolean]())
    def innerRelation(p: LogicalPlan): Option[UnresolvedRelation] = p match {
      case u: UnresolvedRelation => Some(u)
      case a: SubqueryAlias      => innerRelation(a.child)
      case _                     => None
    }
    plan.foreach {
      case i: InsertIntoStatement => i.table match {
        case u: UnresolvedRelation => insertTargets.add(u); ()
        case _                     => ()
      }
      // a MERGE WITH SCHEMA EVOLUTION waits for its SOURCE to resolve
      // before substituting the target (the NULL-extension needs the
      // source schema) — meanwhile the generic read-substitution case must
      // NOT consume the target, or step 1 could never fire and the
      // statement would fall to Spark's unsupported-MERGE planner error
      // (hit with graft-table sources, which only this rule resolves)
      case m: MergeIntoTable if m.withSchemaEvolution && !m.sourceTable.resolved =>
        innerRelation(m.targetTable).foreach(insertTargets.add)
      case _ => ()
    }
    // TOP-DOWN: RelationTimeTravel must be rewritten as a unit — bottom-up
    // would substitute its UnresolvedRelation child first and silently
    // drop the AS OF clause (a current-version read of a time-traveled
    // query is a correctness bug, not a degraded mode)
    plan.resolveOperatorsDown {
      // CTAS: Spark's own exec would create through the catalog and then
      // WRITE through the (capability-less) returned Table — convert to a
      // command that runs CREATE + the versioned INSERT instead (two
      // CAS-guarded commits). Fires once the source query and table spec
      // have resolved; existence is checked at run against the tracker.
      case ctas: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect
          if graftIdentParts(ctas.name).isDefined && ctas.query.resolved &&
            ctas.tableSpec.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TableSpec] =>
        val Some((schemaName, tableName)) = graftIdentParts(ctas.name)
        val spec = ctas.tableSpec.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TableSpec]
        val props = spec.properties ++
          spec.provider.map("provider" -> _) ++ spec.location.map("location" -> _)
        GraftCtasCommand(schemaName, tableName,
          GraftDdl.identityPartCols(ctas.partitioning), props, ctas.query,
          ctas.ignoreIfExists)
      // DESCRIBE [EXTENDED] graft.s.t — the catalog's loadTable defers on
      // purpose (reads go through relation substitution), so the describe
      // command needs its own binding; output attrs pass through so the
      // statement keeps Spark's native (col_name, data_type, comment) shape
      case org.apache.spark.sql.catalyst.plans.logical.DescribeRelation(
          u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView,
          partitionSpec, isExtended, out)
          if (u.multipartIdentifier match {
            case Seq(cat, s, t) if cat.equalsIgnoreCase(GraftTableRegistry.CatalogName) =>
              GraftTableRegistry.resolve(s, t).isDefined
            case _ => false
          }) =>
        require(partitionSpec.isEmpty,
          "DESCRIBE ... PARTITION is not supported on graft tables")
        val Seq(_, s, t) = u.multipartIdentifier
        GraftDescribeTableCommand(s, t, isExtended, out)
      // the SQL WRITE surface: a graft-targeted INSERT becomes a
      // versioned-write command once its source query has resolved (the
      // fixed point keeps resolving the source meanwhile). See
      // [[GraftSqlWrites]] for the append/overwrite semantics.
      case i: InsertIntoStatement if i.query.resolved && (i.table match {
            case u: UnresolvedRelation => entryFor(u).isDefined
            case _                     => false
          }) =>
        require(!i.ifPartitionNotExists,
          "INSERT ... IF NOT EXISTS is not supported on graft tables")
        GraftInsertCommand(
          entryFor(i.table.asInstanceOf[UnresolvedRelation]).get,
          i.partitionSpec, i.userSpecifiedCols, i.query, i.overwrite, i.byName)
      // SQL DELETE/UPDATE/MERGE, step 1: substitute the target (through
      // any `AS alias` wrappers) with the analyzed read plan so the
      // WHERE/SET/ON expressions can resolve against the table's columns,
      // and remember plan → table for step 2
      case DeleteFromTable(tgt, cond) if dmlTargetEntry(tgt).isDefined =>
        DeleteFromTable(substituteDmlTarget(tgt, dmlTargetEntry(tgt).get), cond)
      case UpdateTable(tgt, assignments, cond) if dmlTargetEntry(tgt).isDefined =>
        UpdateTable(substituteDmlTarget(tgt, dmlTargetEntry(tgt).get), assignments, cond)
      // step 2: everything resolved → the versioned DML command (predicate
      // re-expressed by name — see [[byName]]). Unconverted graft DML can
      // never slip through silently: Spark's own check raises
      // "DELETE/UPDATE is only supported with v2 tables" on the leftover.
      case DeleteFromTable(t, cond)
          if t.resolved && cond.resolved && GraftDmlTargets.lookup(t).isDefined =>
        GraftDeleteCommand(GraftDmlTargets.lookup(t).get, byName(cond))
      case UpdateTable(t, assignments, cond)
          if t.resolved && assignments.forall(_.resolved) && cond.forall(_.resolved) &&
            GraftDmlTargets.lookup(t).isDefined =>
        val set = assignments.map {
          case Assignment(k: AttributeReference, v) => k.name -> byName(v)
          case Assignment(k, _) => throw new IllegalArgumentException(
            s"UPDATE on graft tables supports plain column assignments only, got SET $k")
        }
        GraftUpdateCommand(GraftDmlTargets.lookup(t).get, set,
          cond.map(byName).getOrElse(org.apache.spark.sql.functions.lit(true)))
      // SQL MERGE INTO, step 1 (the source resolves on its own — it may
      // be any query, graft reads included). WITH SCHEMA EVOLUTION waits
      // for the source, then substitutes the target EXTENDED by the
      // missing source columns as typed NULLs — that is what lets the
      // evolution assignments (SET tag = s.tag) resolve at all; the
      // general merge then persists the widened schema for real.
      case m: MergeIntoTable
          if dmlTargetEntry(m.targetTable).isDefined &&
            (!m.withSchemaEvolution || m.sourceTable.resolved) =>
        val extendWith: Seq[org.apache.spark.sql.types.StructField] =
          if (!m.withSchemaEvolution) Seq.empty
          else m.sourceTable.output.map(a =>
            org.apache.spark.sql.types.StructField(a.name, a.dataType, nullable = true))
        m.copy(targetTable =
          substituteDmlTarget(m.targetTable, dmlTargetEntry(m.targetTable).get, extendWith))
      // step 2: fully resolved → the keyed versioned merge, for the shapes
      // VersionedMerge implements (see [[convertMerge]]); unsupported
      // shapes raise a specific error rather than falling to Spark's
      // "MERGE is only supported with v2 tables"
      case m: MergeIntoTable
          if m.resolved && GraftDmlTargets.lookup(m.targetTable).isDefined =>
        convertMerge(m, GraftDmlTargets.lookup(m.targetTable).get)
      case RelationTimeTravel(u: UnresolvedRelation, timestamp, version)
          if entryFor(u).isDefined && !insertTargets.contains(u) =>
        val e = entryFor(u).get
        val df = (version, timestamp) match {
          case (Some(v), _) =>
            // `VERSION AS OF` accepts a commit id OR a tag name (the
            // Iceberg ref pattern): tags are the durable reproducibility
            // pins (vacuum never reclaims them), so
            // `VERSION AS OF 'model-v3-train'` is the SQL spelling of
            // readAtTag. The tag MAP is consulted first — a driver-side
            // lookup — and anything not a tag goes straight to readAt,
            // which raises UnknownCommitError for unknown ids; no
            // O(history) pre-scan of the update log per analysis. On a
            // (pathological) tag-named-like-a-commit-id collision the tag
            // wins; rename the tag to reach the shadowed commit.
            val tracker = e.engine.tracker
            tracker.tags(e.table.name)
              .collectFirst { case (tag, commit) if tag == v => commit } match {
              case Some(commit) => e.engine.readAt(e.table, commit)
              case None         => e.engine.readAt(e.table, CommitId(v)) // loud UnknownCommitError
            }
          case (None, Some(ts)) => e.engine.readAsOf(e.table, evalInstant(ts))
          case (None, None)     => e.engine.read(e.table)
        }
        analyzedPlan(df)
      case u: UnresolvedRelation if entryFor(u).isDefined && !insertTargets.contains(u) =>
        analyzedPlan(entryFor(u).get.engine.read(entryFor(u).get.table))
    }
  }

  /** Map a resolved `MERGE INTO` onto the one merge engine,
    * [[graft.operators.MergeApply]], which runs every clause combination
    * with SQL's ordered first-TRUE-wins dispatch and picks its plan shape
    * from the clauses. `WITH SCHEMA EVOLUTION` runs with `evolveSchema =
    * true` (the target is substituted extended by typed NULLs for the
    * missing source columns, so the evolution assignments resolve — see
    * [[substituteDmlTarget]]). What refuses: a non-equi `ON` (the merge
    * keys ARE the `t.k = s.k` conjunction — discovery pruning and the
    * rewrite slice depend on it), subqueries or nondeterministic
    * expressions inside clauses, and SET on partition columns in
    * by-source clauses (matched-clause partition SETs MOVE rows). */
  private def convertMerge(
      m: MergeIntoTable, entry: GraftTableRegistry.Entry): LogicalPlan = {
    import graft.operators.MergeApply
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO graft.${entry.table.name.fullyQualifiedName}: $what is not " +
          "supported — merge keys must be t.k = s.k equalities and clause " +
          "expressions must be deterministic and subquery-free")

    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet

    // ON: conjunction of same-name target=source equality atoms → keys
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetOut.contains(a) && sourceOut.contains(b) &&
            a.name.equalsIgnoreCase(b.name) => a.name
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if targetOut.contains(a) && sourceOut.contains(b) &&
            a.name.equalsIgnoreCase(b.name) => a.name
      case other => unsupported(s"ON condition atom $other (need t.k = s.k equalities)")
    }.distinct

    // re-express every clause by NAME (target columns plain, source
    // columns `s.`-qualified), so the command re-resolves them against the
    // execution-time read
    def byNameTS(e: Expression): org.apache.spark.sql.Column = {
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        "subqueries in MERGE clauses on graft tables are not supported — " +
          "materialize the subquery into the source query")
      require(e.deterministic, "MERGE clause expressions on graft tables must be deterministic")
      org.apache.spark.sql.GraftSqlBridge.column(inlineCommonExpressions(e).transform {
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute(Seq("s", a.name))
        case a: AttributeReference if targetOut.contains(a) =>
          UnresolvedAttribute.quoted(a.name)
      })
    }
    def assignmentsByName(as: Seq[Assignment], clause: String): Map[String, org.apache.spark.sql.Column] =
      as.map {
        case Assignment(k: AttributeReference, v) if targetOut.contains(k) =>
          k.name -> byNameTS(v)
        case Assignment(k, _) => unsupported(
          s"$clause assignment target $k (need a plain target column)")
      }.toMap

    val matchedClauses: Seq[MergeApply.MatchedAction] = m.matchedActions.map {
      case UpdateAction(cond, as, _) =>
        MergeApply.MatchedUpdate(cond.map(byNameTS), assignmentsByName(as, "WHEN MATCHED UPDATE"))
      case DeleteAction(cond) => MergeApply.MatchedDelete(cond.map(byNameTS))
      case other => unsupported(s"matched-clause shape $other")
    }
    val insertClauses: Seq[MergeApply.NotMatchedInsert] = m.notMatchedActions.map {
      case InsertAction(cond, as) =>
        MergeApply.NotMatchedInsert(cond.map(byNameTS),
          assignmentsByName(as, "WHEN NOT MATCHED INSERT"))
      case other => unsupported(s"not-matched-clause shape $other")
    }
    val bySourceClauses: Seq[MergeApply.BySourceAction] = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, as, _) =>
        MergeApply.BySourceUpdate(cond.map(byNameTS),
          assignmentsByName(as, "WHEN NOT MATCHED BY SOURCE UPDATE"))
      case DeleteAction(cond) => MergeApply.BySourceDelete(cond.map(byNameTS))
      case other => unsupported(s"not-matched-by-source-clause shape $other")
    }
    GraftMergeApplyCommand(
      entry, keys, m.sourceTable, matchedClauses, insertClauses, bySourceClauses,
      evolveSchema = m.withSchemaEvolution)
  }

  /** An UNSUBSTITUTED graft DML target: the inner UnresolvedRelation of a
    * (possibly `AS`-aliased) target that names a registered table. Returns
    * None once substituted, so step 1 can never re-fire. */
  private def dmlTargetEntry(p: LogicalPlan): Option[GraftTableRegistry.Entry] = p match {
    case u: UnresolvedRelation => entryFor(u)
    case a: SubqueryAlias      => dmlTargetEntry(a.child)
    case _                     => None
  }

  /** Swap the inner relation for the analyzed read plan, preserving alias
    * wrappers (the `tgt.` qualifier must keep resolving), and record every
    * wrapper level so step 2's lookup matches whatever the analyzer hands
    * back. `extendWith` (MERGE WITH SCHEMA EVOLUTION) projects the fields
    * missing from the read as typed NULL columns on top, so assignments
    * and conditions naming them resolve. */
  private def substituteDmlTarget(
      p: LogicalPlan, e: GraftTableRegistry.Entry,
      extendWith: Seq[org.apache.spark.sql.types.StructField] = Seq.empty): LogicalPlan =
    p match {
      case _: UnresolvedRelation =>
        val read0 = analyzedPlan(e.engine.read(e.table))
        val extras = extendWith.filterNot(f =>
          read0.output.exists(_.name.equalsIgnoreCase(f.name)))
        val read =
          if (extras.isEmpty) read0
          else {
            import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
            // a TYPED null literal, deliberately NOT Cast(null): the
            // analyzer's timezone rule rewrites Casts, and the copy would
            // no longer compare equal to the plan recorded below — the
            // step-2 lookup would miss and the statement would fall to
            // Spark's "does not support MERGE" planner error
            org.apache.spark.sql.catalyst.plans.logical.Project(
              read0.output ++ extras.map(f =>
                Alias(Literal(null, f.dataType), f.name)()),
              read0)
          }
        GraftDmlTargets.record(read, e)
        read
      case a: SubqueryAlias =>
        val na = a.copy(child = substituteDmlTarget(a.child, e, extendWith))
        GraftDmlTargets.record(na, e)
        na
      case other => other
    }

  /** Analysis-time substituted DML target plans → their graft table: the
    * identity step 2 of the DELETE/UPDATE conversion reads. Weak — entries
    * die with their plans; keys compare structurally, and two structurally
    * equal plans can only be reads of the same table. */
  private object GraftDmlTargets {
    private val targets = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[LogicalPlan, GraftTableRegistry.Entry]())
    def record(plan: LogicalPlan, e: GraftTableRegistry.Entry): Unit = {
      targets.put(plan, e); ()
    }
    def lookup(plan: LogicalPlan): Option[GraftTableRegistry.Entry] =
      Option(targets.get(plan))
  }

  /** (schema, table) of a DDL name plan targeting the graft catalog. */
  private def graftIdentParts(p: LogicalPlan): Option[(String, String)] = p match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if u.nameParts.length == 3 &&
          u.nameParts.head.equalsIgnoreCase(GraftTableRegistry.CatalogName) =>
      Some((u.nameParts(1), u.nameParts(2)))
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier
        if r.catalog.name().equalsIgnoreCase(GraftTableRegistry.CatalogName) &&
          r.identifier.namespace().length == 1 =>
      Some((r.identifier.namespace().head, r.identifier.name()))
    case _ => None
  }

  private def entryFor(u: UnresolvedRelation): Option[GraftTableRegistry.Entry] =
    u.multipartIdentifier match {
      case Seq(cat, schema, table) if cat.equalsIgnoreCase(GraftTableRegistry.CatalogName) =>
        GraftTableRegistry.resolve(schema, table)
      case _ => None
    }

  private def analyzedPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** `TIMESTAMP AS OF <expr>` — evaluate the (foldable) expression as a
    * session-zone timestamp, exactly as Spark's own time-travel spec does. */
  private def evalInstant(ts: Expression): java.time.Instant = {
    val cast = Cast(ts, TimestampType, Option(SQLConf.get.sessionLocalTimeZone))
    require(ts.foldable, s"TIMESTAMP AS OF must be a literal expression, got $ts")
    val micros = cast.eval(null)
    require(micros != null, s"TIMESTAMP AS OF evaluated to NULL: $ts")
    java.time.Instant.EPOCH.plus(micros.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS)
  }
}
