package graft.sql

import graft.core._
import graft.operators.VersionedTables._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/**
 * The SQL WRITE surface for graft versioned tables — `INSERT INTO` /
 * `INSERT OVERWRITE` on a `graft.<schema>.<table>` name, resolved by
 * [[ResolveGraftTables]] into a [[GraftInsertCommand]] that routes through
 * the SAME versioned write path as the Scala API (`versionedInsertInto` /
 * `versionedReplaceAll`), commit log and stats manifests included:
 *
 * {{{
 *   INSERT INTO graft.sales.accounts SELECT ...                -- append
 *   INSERT OVERWRITE graft.sales.accounts SELECT ...           -- replace
 *   INSERT OVERWRITE graft.sales.accounts
 *     PARTITION (day='2024-03-01') SELECT ...                  -- one partition
 * }}}
 *
 * Semantics on an immutable-versioned store:
 *  - `INSERT INTO` APPENDS: the new rows are unioned with the CURRENT rows
 *    of exactly the partitions the frame touches, and those partitions get
 *    new version directories (absent partitions untouched). On a
 *    versioned-directory layout an append IS a rewrite of the touched
 *    partitions — bulk loads into fresh partitions pay no union read at
 *    all (the partitions don't exist yet), which is the recommended
 *    100 TB ingestion shape.
 *  - `INSERT OVERWRITE` replaces exactly the partitions present in the
 *    query — the engine's native `versionedInsertInto` semantics, i.e.
 *    Spark's DYNAMIC partition-overwrite (the write path itself requires
 *    `spark.sql.sources.partitionOverwriteMode=dynamic`, which
 *    `graft.Tables.prepare` sets, and refuses loudly otherwise — there is
 *    no silent whole-table truncate). A static `PARTITION (col=value)`
 *    spec pins the value as a literal column and replaces that partition
 *    alone. Whole-table replace — absent partitions REMOVED from the new
 *    commit, their data retained for time travel — stays a deliberate
 *    Scala/CLI operation (`versionedReplaceAll`).
 *
 * Every SQL write commits with OPTIMISTIC CONCURRENCY: the head observed
 * when the write began (the same head the append's union and the
 * replace-all's remove set derive from) is passed as the CAS expectation,
 * so a concurrent commit between read and write raises
 * [[graft.core.CommitConflictError]] instead of silently losing rows —
 * already-written version directories are then unreferenced debris that
 * vacuum reclaims. Retry the statement to rebase.
 *
 * Column resolution follows SQL INSERT rules: positional by default (the
 * query must produce exactly the table's columns, casts applied), by-name
 * with `INSERT INTO t BY NAME`, and `INSERT INTO t (a, b, ...)` names the
 * query's columns positionally (the list must cover the full schema — a
 * versioned write never fabricates defaults). A never-written table takes
 * the query's own schema as the table schema (the first write defines it).
 *
 * DDL (round 13): `CREATE TABLE` / `CREATE TABLE AS SELECT` work for
 * schemas opened with [[GraftTableRegistry.registerSchema]] — engine
 * concerns ride as TBLPROPERTIES (`stats.columns`, `stats.bloomKeys`,
 * `stats.bloomExpectedItems`) and USING/LOCATION clauses. ALTER, DROP and
 * RENAME stay refused: a versioned store's history outlives any one
 * definition, so destructive DDL remains a deliberate engine/CLI act.
 */
object GraftSqlWrites {

  /** Session conf naming the user id SQL commits are attributed to. */
  val UserKey = "spark.graft.sql.user"

  /** Session conf choosing SQL DELETE's physical path: "rewrite" (default,
    * copy-on-write partition rewrite) or "dv" (merge-on-read deletion
    * vectors — positions written, zero data bytes moved; parquet
    * partitioned tables only, others fall back to rewrite). Results are
    * identical either way; fold DVs with OPTIMIZE. */
  val DeleteModeKey = "spark.graft.delete.mode"

  /** Session conf choosing SQL UPDATE's physical path — same contract as
    * [[DeleteModeKey]]: "rewrite" (default) or "dv" (merge-on-read
    * post-images + deletion vector). */
  val UpdateModeKey = "spark.graft.update.mode"

  /** Align `df` to the target schema and commit it through the versioned
    * write path. Public mainly for the CAS law: `expectedHead` defaults to
    * the head observed here, but a caller may pin a stale head to prove
    * the conflict path. Returns the commit outcome. */
  def insert(
      spark: SparkSession,
      entry: GraftTableRegistry.Entry,
      source: DataFrame,
      partitionSpec: Map[String, Option[String]],
      userSpecifiedCols: Seq[String],
      overwrite: Boolean,
      byName: Boolean,
      expectedHead: Option[CommitId] = None): (TableVersion, TableChanges) = {
    val engine = entry.engine
    val table = entry.table
    val partCols = table.partitionSchema.columns.map(_.name)

    partitionSpec.keys.foreach { k =>
      require(partCols.exists(_.equalsIgnoreCase(k)),
        s"PARTITION column '$k' is not a partition column of " +
          s"${table.name.fullyQualifiedName} (partitioned by ${partCols.mkString(", ")})")
    }

    // the head every derived read (target schema, append union, replace-all
    // remove set) is based on — and the CAS expectation of the commit
    val head = expectedHead.getOrElse(engine.headCommit(table.name))

    // `INSERT INTO t (a, b, ...)`: name the query's columns positionally
    val named =
      if (userSpecifiedCols.isEmpty) source
      else {
        require(userSpecifiedCols.size == source.columns.length,
          s"INSERT column list (${userSpecifiedCols.mkString(", ")}) has " +
            s"${userSpecifiedCols.size} columns but the query produced ${source.columns.length}")
        source.toDF(userSpecifiedCols: _*)
      }

    // static PARTITION (col=value) entries become literal columns
    val withStatic = partitionSpec.foldLeft(named) {
      case (df, (c, Some(v))) =>
        require(!df.columns.exists(_.equalsIgnoreCase(c)),
          s"static PARTITION ($c='$v') conflicts with a query output column")
        df.withColumn(c, lit(v))
      case (df, (_, None)) => df
    }

    val target: StructType = {
      val current = StructType(
        engine.read(table).schema.filterNot(_.name == Version.VersionColumn).toArray)
      // a never-written table created by SQL DDL aligns its FIRST insert to
      // the LOG-RECORDED schema when one exists (ALTER TABLE ADD COLUMNS
      // records there and never touches the registry's declaration — the
      // declaration alone would silently forget the ALTERed columns), else
      // to the DECLARED columns (names, order, types) — the one job the
      // declaration has on a first-write-defines-schema engine
      if (current.nonEmpty) current
      else graft.operators.VersionedTables.parseSchemaJson(
          engine.tracker.headState(table.name).schemaJson)
        .map(s => StructType(s.filterNot(_.name == Version.VersionColumn).toArray))
        .orElse(entry.declared)
        .getOrElse(current)
    }
    val aligned =
      if (target.isEmpty) withStatic // first write defines the schema
      else align(withStatic, target, byName = byName || userSpecifiedCols.nonEmpty)

    partCols.foreach { c =>
      require(aligned.columns.exists(_.equalsIgnoreCase(c)),
        s"partition column '$c' missing from the INSERT source " +
          s"(columns: ${aligned.columns.mkString(", ")})")
    }

    val user = UserId(spark.conf.get(UserKey, spark.sparkContext.sparkUser))

    if (!overwrite) {
      // APPEND: union with the current rows of exactly the touched
      // partitions. The touched set is one bounded distinct over the
      // source's partition columns (the source is locally checkpointed so
      // the union write does not recompute the query); the per-partition
      // match compares the same string encoding Spark's dynamic
      // partitioned write produced the directory names with, which is
      // round-trip-exact for the guarded type set — anything else (e.g.
      // timestamp partition columns, whose java toString disagrees with
      // the directory encoding) refuses loudly rather than risk matching
      // an existing partition as "absent" and silently replacing it.
      table.partitionSchema.columns.foreach { c =>
        val dt = aligned.schema(
          aligned.columns.find(_.equalsIgnoreCase(c.name)).get).dataType
        require(appendMatchSafe(dt),
          s"SQL INSERT INTO append over a ${dt.catalogString} partition column " +
            s"('${c.name}') is not supported — the path encoding is not a plain " +
            "string round-trip; use the Scala API (read + union + versionedInsertInto)")
      }
      // EMPTY-table fast path (round 17): when the head this statement is
      // CAS'd on carries no partitions, the union set is known empty from
      // the commit log alone — the append IS the plain versioned write.
      // The former shape still paid an eager localCheckpoint (a full
      // evaluation + materialization of the query) plus a distinct job
      // before writing; a first load — the recommended 100 TB ingestion
      // shape — now evaluates its query exactly once, in the write job.
      val headIsEmpty = table.partitionSchema.columns.nonEmpty &&
        (engine.tracker.versionAt(table.name, head) match {
          case PartitionedTableVersion(m) => m.isEmpty
          case _ => false
        })
      if (headIsEmpty)
        aligned.versionedInsertIntoIf(engine, table, user,
          s"SQL INSERT INTO ${table.name.fullyQualifiedName}", head)
      else {
        // LAZY local checkpoint: the touched-partition distinct below is the
        // action that materializes it, so "evaluate + cache the source" and
        // "find the touched partitions" share ONE job where the eager form
        // paid two; the union write still reads the cached blocks, never
        // re-running the query.
        val src = aligned.localCheckpoint(eager = false)
        val existing: Option[DataFrame] = table.partitionSchema match {
          case ps if ps.columns.isEmpty =>
            val cur = engine.read(table)
            if (cur.columns.isEmpty) None else Some(cur)
          case ps =>
            val touched: Set[Seq[Option[String]]] = src
              .select(ps.columns.map(c => col(s"`${c.name}`")): _*)
              .distinct().collect()
              .map(r => ps.columns.indices.map(i =>
                Option(r.get(i)).map(String.valueOf(_))): Seq[Option[String]])
              .toSet
            val cur = engine.readPartitions(table, p =>
              touched.contains(p.columnValues.map(cv =>
                if (cv.value == PathCodec.DefaultPartitionName) None
                else Some(cv.value)): Seq[Option[String]]))
            if (cur.columns.isEmpty) None else Some(cur)
        }
        val unioned = existing match {
          // a mergeSchema (evolved) table's touched partitions may predate an
          // evolution and lack the new columns — null-fill them instead of
          // failing the union (the strict form stays for uniform tables, so
          // genuine drift cannot hide behind the fill)
          case Some(cur) => cur.unionByName(src, allowMissingColumns = table.mergesSchema)
          case None      => src
        }
        unioned.versionedInsertIntoIf(engine, table, user,
          s"SQL INSERT INTO ${table.name.fullyQualifiedName}", head)
      }
    } else {
      // INSERT OVERWRITE = the engine's native dynamic-overwrite-by-
      // partition write (the ONLY overwrite a versioned-directory store
      // has; the write path itself requires the session's
      // partitionOverwriteMode to be 'dynamic' and refuses loudly
      // otherwise). Whole-table replace — absent partitions removed from
      // the commit — is versionedReplaceAll on the Scala API / CLI.
      aligned.versionedInsertIntoIf(engine, table, user,
        s"SQL INSERT OVERWRITE ${table.name.fullyQualifiedName}", head)
    }
  }

  /** Types whose partition-directory encoding is the plain string form of
    * the value — the set the append path may match partitions by value
    * with (mirrors the metadata-aggregate rule's partitionEvalSafe). */
  private def appendMatchSafe(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | BooleanType | DateType => true
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
  }

  /** SQL INSERT column resolution against the known table schema:
    * positional (arity must match; columns renamed and cast in order) or
    * by-name (every target column present case-insensitively, selected in
    * target order with casts). */
  private def align(df: DataFrame, target: StructType, byName: Boolean): DataFrame =
    if (byName) {
      // extra source columns refuse LOUDLY rather than dropping silently: a
      // producer adding a column expects it to land (that is schema
      // evolution — versionedInsertIntoEvolving), not to vanish
      val extras = df.columns.filterNot(c => target.exists(_.name.equalsIgnoreCase(c)))
      require(extras.isEmpty,
        s"INSERT BY NAME: columns ${extras.mkString(", ")} are not in the table — " +
          "dropping them silently would hide a schema change; project them away, or " +
          "evolve the table with versionedInsertIntoEvolving")
      val cols: Seq[Column] = target.map { f =>
        df.columns.find(_.equalsIgnoreCase(f.name)) match {
          case Some(c) => castTo(col(s"`$c`"), df.schema(c).dataType, f.dataType).as(f.name)
          // ANSI column-list semantics: an unlisted NULLABLE column is
          // null-filled (the CREATE→ALTER ADD COLUMNS→INSERT (old cols)
          // flow must not refuse); a non-nullable one still refuses loudly
          case None if f.nullable => lit(null).cast(f.dataType).as(f.name)
          case None => throw new IllegalArgumentException(
            s"INSERT BY NAME: non-nullable column '${f.name}' missing from the query " +
              s"(columns: ${df.columns.mkString(", ")})")
        }
      }
      df.select(cols: _*)
    } else {
      require(df.columns.length == target.size,
        s"INSERT source has ${df.columns.length} columns but " +
          s"the table has ${target.size} (${target.map(_.name).mkString(", ")})")
      // rename positionally FIRST: a query like `SELECT id, CAST(id AS
      // DOUBLE)` produces two output columns both NAMED `id`, which a
      // name-based select would reject as ambiguous — positional INSERT
      // must not care about source names at all
      val tmp = df.toDF(df.columns.indices.map(i => s"_graft_ins_$i"): _*)
      val cols: Seq[Column] = target.zipWithIndex.map { case (f, i) =>
        castTo(col(s"_graft_ins_$i"), tmp.schema(i).dataType, f.dataType).as(f.name)
      }
      tmp.select(cols: _*)
    }

  private def castTo(
      c: Column,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Column =
    if (from == to) c else c.cast(to)
}

/**
 * The analyzed form of a graft-targeted `InsertIntoStatement`: a driver-side
 * command (planned by Spark's own command strategy) whose `run` aligns the
 * source and commits through [[GraftSqlWrites.insert]]. The source plan is
 * an `innerChildren` so EXPLAIN prints it; nothing executes until the
 * statement itself runs — EXPLAIN of an INSERT stays a no-op.
 */
/** `DELETE FROM graft.s.t WHERE …` — routed through
  * [[graft.operators.VersionedDml.DmlOps.deleteWhere]]: stats/Bloom-pruned
  * partition discovery, rewrite of exactly the matched partitions, CAS
  * commit. The condition arrives re-expressed by NAME (unresolved
  * attributes), so it re-resolves against the execution-time read — the
  * statement always deletes from the CURRENT head, not the analysis-time
  * snapshot. */
final case class GraftDeleteCommand(
    entry: GraftTableRegistry.Entry,
    // a Column, NOT an Expression: checkAnalysis walks a command's
    // Expression-typed fields and would reject the (deliberately
    // name-unresolved) predicate before run ever fires
    condition: Column)
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val user = UserId(session.conf.get(GraftSqlWrites.UserKey, session.sparkContext.sparkUser))
    // spark.graft.delete.mode=dv opts SQL DELETE into the merge-on-read
    // path (deletion vectors: positions written, zero data bytes moved) on
    // the tables that support it — parquet, partitioned. Anything else
    // keeps the copy-on-write rewrite; "dv" on an unsupported table falls
    // back the same way rather than failing a valid DELETE, because the
    // two paths are result-identical (the mode is a physical choice).
    val wantDv = session.conf
      .get(GraftSqlWrites.DeleteModeKey, "rewrite").equalsIgnoreCase("dv")
    if (wantDv && entry.table.format == FileFormat.Parquet && !entry.table.isSnapshot) {
      import graft.operators.DeleteVectors._
      entry.engine.deleteWhereDV(entry.table, condition, user,
        s"SQL DELETE (dv) FROM ${entry.table.name.fullyQualifiedName}")
    } else {
      import graft.operators.VersionedDml._
      entry.engine.deleteWhere(entry.table, condition, user,
        s"SQL DELETE FROM ${entry.table.name.fullyQualifiedName}")
    }
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand ${entry.table.name.fullyQualifiedName}"
}

/** `UPDATE graft.s.t SET … WHERE …` — routed through
  * [[graft.operators.VersionedDml.DmlOps.updateWhere]] with the same
  * by-name re-resolution contract as [[GraftDeleteCommand]]. Partition
  * columns cannot be SET (the operator refuses — moves are a MERGE
  * concern). */
final case class GraftUpdateCommand(
    entry: GraftTableRegistry.Entry,
    set: Seq[(String, Column)],
    condition: Column)
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val user = UserId(session.conf.get(GraftSqlWrites.UserKey, session.sparkContext.sparkUser))
    // same physical-path switch as DELETE: spark.graft.update.mode=dv opts
    // into the merge-on-read update (post-images + deletion vector, zero
    // base bytes moved) where the table supports it; results identical
    val wantDv = session.conf
      .get(GraftSqlWrites.UpdateModeKey, "rewrite").equalsIgnoreCase("dv")
    if (wantDv && entry.table.format == FileFormat.Parquet && !entry.table.isSnapshot) {
      import graft.operators.DeleteVectors._
      entry.engine.updateWhereDV(entry.table, condition, set.toMap, user,
        s"SQL UPDATE (dv) ${entry.table.name.fullyQualifiedName}")
    } else {
      import graft.operators.VersionedDml._
      entry.engine.updateWhere(entry.table, condition, set.toMap, user,
        s"SQL UPDATE ${entry.table.name.fullyQualifiedName}")
    }
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand ${entry.table.name.fullyQualifiedName} " +
      s"SET ${set.map(_._1).mkString(", ")}"
}

/** `MERGE INTO graft.s.t USING … ON … WHEN …` — every clause combination,
  * run by [[graft.operators.MergeApply]], the one merge engine (see
  * [[ResolveGraftTables.convertMerge]] for what refuses). Clause
  * expressions arrive re-expressed by NAME (target plain, source
  * `s.`-qualified), so the statement always acts on the execution-time
  * head. The source plan rides as an inner child (EXPLAIN prints it,
  * nothing runs at analysis). */
final case class GraftMergeApplyCommand(
    entry: GraftTableRegistry.Entry,
    keyColumns: Seq[String],
    source: LogicalPlan,
    matched: Seq[graft.operators.MergeApply.MatchedAction],
    notMatched: Seq[graft.operators.MergeApply.NotMatchedInsert],
    notMatchedBySource: Seq[graft.operators.MergeApply.BySourceAction],
    evolveSchema: Boolean = false)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    import graft.operators.MergeApply._
    val user = UserId(session.conf.get(GraftSqlWrites.UserKey, session.sparkContext.sparkUser))
    entry.engine.mergeApply(entry.table, GraftSqlBridge.ofRows(session, source),
      keyColumns, user, s"SQL MERGE INTO ${entry.table.name.fullyQualifiedName}",
      matched = matched, notMatched = notMatched, notMatchedBySource = notMatchedBySource,
      evolveSchema = evolveSchema)
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftMergeApplyCommand ${entry.table.name.fullyQualifiedName} " +
      s"ON ${keyColumns.mkString(", ")} " +
      s"(${matched.size} matched, ${notMatched.size} not-matched, " +
      s"${notMatchedBySource.size} by-source)"
}

/** `CREATE TABLE graft.s.t [USING fmt] [PARTITIONED BY …] [TBLPROPERTIES …]
  * AS SELECT …` — CREATE through the shared DDL path (the query's schema is
  * the declaration) followed by the versioned positional INSERT: two
  * CAS-guarded commits, same end state as running the statements
  * separately. Existence is checked at run against the registry AND the
  * schema engine's tracker; `IF NOT EXISTS` no-ops, otherwise loud. */
final case class GraftCtasCommand(
    schemaName: String,
    tableName: String,
    partCols: Seq[String],
    props: Map[String, String],
    query: LogicalPlan,
    ignoreIfExists: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val owner = GraftTableRegistry.lookupSchema(schemaName).getOrElse(
      throw new UnsupportedOperationException(
        s"graft catalog: CREATE TABLE AS SELECT in schema '$schemaName' (no engine " +
          "registered for it — GraftTableRegistry.registerSchema opens a schema to SQL DDL)"))
    val exists = GraftTableRegistry.lookup(schemaName, tableName).isDefined ||
      owner.engine.tracker.tables().contains(TableName(schemaName, tableName))
    if (exists) {
      if (ignoreIfExists) return Seq.empty
      throw new IllegalArgumentException(
        s"graft.$schemaName.$tableName already exists (CREATE TABLE AS SELECT)")
    }
    val df = GraftSqlBridge.ofRows(session, query)
    val declared = df.schema
    require(declared.fieldNames.map(_.toLowerCase).distinct.length == declared.length,
      s"CTAS query produces duplicate column names (${declared.fieldNames.mkString(", ")}) " +
        "— alias them distinctly")
    GraftDdl.create(owner, schemaName, tableName, declared, partCols, props)
    GraftSqlWrites.insert(session, GraftTableRegistry.lookup(schemaName, tableName).get,
      df, Map.empty, Seq.empty, overwrite = false, byName = false)
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftCtasCommand graft.$schemaName.$tableName" +
      (if (partCols.nonEmpty) s" PARTITIONED BY (${partCols.mkString(", ")})" else "")
}

final case class GraftInsertCommand(
    entry: GraftTableRegistry.Entry,
    partitionSpec: Map[String, Option[String]],
    userSpecifiedCols: Seq[String],
    query: LogicalPlan,
    overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    GraftSqlWrites.insert(session, entry,
      GraftSqlBridge.ofRows(session, query),
      partitionSpec, userSpecifiedCols, overwrite, byName)
    Seq.empty
  }

  override def simpleString(maxFields: Int): String =
    s"GraftInsertCommand ${entry.table.name.fullyQualifiedName}" +
      (if (overwrite) " (overwrite)" else "")
}
