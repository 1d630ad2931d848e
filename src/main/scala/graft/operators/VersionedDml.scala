package graft.operators

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}

/**
 * Predicate DML for versioned tables — `DELETE WHERE` and `UPDATE SET …
 * WHERE`, the row-level verbs that complete the write surface around
 * [[VersionedMerge]] (which needs a KEYED source; these need only a
 * predicate). The reference has neither: its only write is
 * overwrite-by-partition (chronicles `SparkSupport.scala:51-104`), so a
 * predicate delete there means the caller rebuilds partition contents by
 * hand — this operator IS that read-modify-write, with the pruning and the
 * CAS guard it needs. SQL faces: `DELETE FROM graft.s.t WHERE …` and
 * `UPDATE graft.s.t SET … WHERE …` ([[graft.sql.GraftSqlWrites]]).
 *
 * Semantics (one call = one atomic commit):
 *   - DELETE removes rows where the predicate is TRUE — NULL keeps the row
 *     (SQL three-valued DELETE, pinned like mergeInto's deleteWhen);
 *   - UPDATE applies the SET expressions to rows where the predicate is
 *     TRUE, leaves every other row bit-identical. SET expressions see the
 *     OLD row (standard SQL UPDATE: assignments evaluate before any
 *     column changes). Partition columns cannot be SET — a row changing
 *     partition is a MERGE concern (`mergeInto` moves rows; an in-place
 *     partition rewrite cannot, because the destination partition's other
 *     rows are outside the rewrite slice).
 *
 * Scale shape (the 100 TB contract):
 *   - Discovery is pruned BEFORE any listing by
 *     [[TableStats.partitionsMayMatch]]: partition values, per-file
 *     min/max stats and the partition Blooms all exclude partitions that
 *     provably hold no matching row (no false negatives). Only the
 *     surviving candidates are scanned to find the partitions that
 *     ACTUALLY hold a TRUE row.
 *   - The rewrite slice is exactly those matched partitions, read ONCE
 *     (persisted across match discovery and the physical write, the
 *     mergeInto pattern). A `DELETE WHERE day < '2024-01-01'` against a
 *     10,000-partition table reads the expired slice, not the table.
 *   - A partition whose rewrite keeps no rows is REMOVED from the commit
 *     (its data stays on disk for time travel); untouched partitions keep
 *     their version directories — zero data movement.
 *   - The commit CASes on the head pinned at entry: a concurrent commit
 *     raises [[graft.core.CommitConflictError]] instead of resurrecting
 *     rows the other writer changed.
 */
object VersionedDml {

  /** What a DML statement did: the committed state + the partition bill
    * (empty lists = the predicate matched nothing; no commit happened). */
  final case class DmlResult(
      version: TableVersion,
      changes: TableChanges,
      rewritten: List[Partition],
      removed: List[Partition])

  implicit final class DmlOps(private val engine: VersionedTables) extends AnyVal {

    /** Delete rows of the CURRENT version where `predicate` is TRUE. */
    def deleteWhere(
        table: TableDefinition,
        predicate: Column,
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil): DmlResult =
      rewriteWhere(engine, table, predicate, userId, message, clusterBy, set = Map.empty,
        delete = true)

    /** Update rows of the CURRENT version where `predicate` is TRUE:
      * column → new-value expression (evaluated over the OLD row). */
    def updateWhere(
        table: TableDefinition,
        predicate: Column,
        set: Map[String, Column],
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil): DmlResult = {
      require(set.nonEmpty, "updateWhere needs at least one SET column")
      rewriteWhere(engine, table, predicate, userId, message, clusterBy, set, delete = false)
    }
  }

  private def rewriteWhere(
      engine: VersionedTables,
      table: TableDefinition,
      predicate: Column,
      userId: UserId,
      message: String,
      clusterBy: Seq[String],
      set: Map[String, Column],
      delete: Boolean): DmlResult = {
    val partCols = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
    set.keys.foreach { c =>
      require(!partCols.contains(c.toLowerCase),
        s"UPDATE cannot SET partition column '$c' — a row changing partition would " +
          "need its destination partition rewritten too; use mergeInto for moves")
    }

    // pin everything to one head snapshot (headState: O(partitions + tail),
    // never a history replay); the commit CASes on it
    val state = engine.tracker.headState(table.name)
    val head = state.head
    val snapshot = state.version
    // the schema the log recorded AT the pinned head: every read below
    // plans under it instead of inferring from footers (a Spark job per
    // read); histories without a record infer
    val recorded = VersionedTables.parseSchemaJson(state.schemaJson)
    // only TRUE matches (SQL three-valued DELETE/UPDATE WHERE)
    val matchCond = coalesce(predicate, lit(false))
    val now = java.time.Instant.now()

    def applySet(df: DataFrame): DataFrame =
      if (delete) df.filter(not(matchCond))
      else {
        // all assignments see the OLD row: stage new values in temp columns
        // first, then swap — a direct chained withColumn would let later
        // SETs read earlier SETs' results
        val staged = set.zipWithIndex.foldLeft(df) { case (d, ((c, e), i)) =>
          d.withColumn(s"_dml_set_$i", when(matchCond, e).otherwise(col(s"`$c`")))
        }
        val swapped = set.zipWithIndex.foldLeft(staged) { case (d, ((c, _), i)) =>
          d.withColumn(c, col(s"_dml_set_$i"))
        }
        set.zipWithIndex.foldLeft(swapped) { case (d, (_, i)) => d.drop(s"_dml_set_$i") }
      }

    snapshot match {
      case SnapshotTableVersion(_) =>
        val current = engine.readVersion(table, snapshot, recorded)
        if (current.columns.isEmpty)
          return DmlResult(snapshot, TableChanges.empty, Nil, Nil)
        if (current.filter(matchCond).limit(1).collect().isEmpty)
          return DmlResult(snapshot, TableChanges.empty, Nil, Nil)
        val rewritten = applySet(current)
        val version = Version.generate()
        VersionedTables.writeDataVersioned(rewritten, table, version, clusterBy)
        if (table.stats.nonEmpty)
          TableStats.collectAndWrite(engine.spark, table, version, Nil, Some(rewritten.schema))
        val versionDir = new org.apache.hadoop.fs.Path(
          VersionPaths.pathFor(table.location, version))
        val fs = versionDir.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
        require(fs.exists(versionDir),
          s"DELETE emptied snapshot table ${table.name.fullyQualifiedName} — a snapshot " +
            "version must carry at least one row (emptying is a replace-all concern)")
        val (tv, changes) = engine.versioned.commitIf(
          table.name, TableUpdate(userId, message, now,
            VersionedTables.schemaOpsFor(table, state.schemaJson, snapshot, rewritten.schema,
              definesWholeTable = true) :+
              TableOperation.AddTableVersion(version)), head)
        DmlResult(tv, changes, Nil, Nil)

      case PartitionedTableVersion(pvs) =>
        // (1) candidates that MAY hold a TRUE row — driver-side, no listing
        val candidates = TableStats.partitionsMayMatch(engine, table, pvs, predicate)
        if (candidates.isEmpty) return DmlResult(snapshot, TableChanges.empty, Nil, Nil)
        // (2) one persisted read of the candidate slice serves BOTH match
        // discovery and the rewrite. The recorded schema skips the slice's
        // footer inference AND makes the rewrite carry the table's full
        // union shape on evolved tables.
        val slice = engine.readVersion(table, PartitionedTableVersion(candidates), recorded)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val touched = VersionedTables.partitionValues(
            slice.filter(matchCond), table.partitionSchema).toSet
          if (touched.isEmpty) return DmlResult(snapshot, TableChanges.empty, Nil, Nil)
          // restrict the rewrite to the partitions that actually matched:
          // compare partition columns in their STRING form (exactly the
          // directory-name domain the Partition values come from), so no
          // type-coercion surprise can silently deselect a partition
          val member = touched.toSeq.map { p =>
            p.columnValues.map { cv =>
              val c = col(s"`${cv.column.name}`")
              if (cv.value == PathCodec.DefaultPartitionName) c.isNull
              else c.cast("string") === lit(cv.value)
            }.reduce(_ && _)
          }.reduce(_ || _)
          val rewritten = applySet(slice.filter(member))
          val version = Version.generate()
          // fused write: final-partition discovery observed DURING the write
          // (one evaluation of the rewrite plan; the former shape ran a
          // partitionValues action first — a second full pass over the
          // persisted slice). A DELETE that empties every touched partition
          // writes nothing and returns no partitions; ops are then removes.
          val finalParts = VersionedTables.writeDataVersionedObserved(
            rewritten, table, version, clusterBy)
          if (finalParts.nonEmpty) {
            // first-class write: the new version carries stats manifests so
            // later reads keep pruning after the rewrite
            if (table.stats.nonEmpty)
              TableStats.collectAndWrite(engine.spark, table, version, finalParts,
                Some(rewritten.schema))
          }
          val emptied = (touched -- finalParts.toSet).toList.sortBy(_.toPath)
            .filter(pvs.contains)
          val ops = finalParts.sortBy(_.toPath)
            .map(TableOperation.AddPartitionVersion(_, version)) ++
            emptied.map(TableOperation.RemovePartition(_))
          if (ops.isEmpty) return DmlResult(snapshot, TableChanges.empty, Nil, Nil)
          // an UPDATE whose SET expression retypes a column is a schema-
          // defining commit (the rewrite slice now differs from untouched
          // partitions) — record it so log-resolved schemas stay honest
          val schemaOps = VersionedTables.schemaOpsFor(table, state.schemaJson, snapshot, rewritten.schema, definesWholeTable = false)
          val (tv, changes) = engine.versioned.commitIf(
            table.name, TableUpdate(userId, message, now, schemaOps ++ ops), head)
          DmlResult(tv, changes, finalParts, emptied)
        } finally { slice.unpersist(blocking = false); () }
    }
  }
}
