package graft.core

/**
 * Orchestration seam between the commit log and a catalog — the reference's
 * `core/src/main/scala/dev/chronicles/core/VersionedMetastore.scala:139-164`,
 * re-expressed eagerly (no effect system).
 *
 * The version-store commit is the transaction of record; the catalog state is
 * derived and re-derivable via diff at any time (docs/concepts.md:71-76).
 */
final class VersionedMetastore(
    val tracker: VersionTracker,
    val metastore: Metastore,
    /** Opt-in DV sync mode (read per sync, so a session conf can flip it):
      * `false` (default) = a deletion-vector (marker) version reaching a
      * catalog that can't apply DVs refuses loudly at the catalog seam;
      * `true` = the sync substitutes each marker partition's BASE data
      * version (resolved from the commit log's [[TableOperation
      * .SetVersionBase]] records — zero filesystem I/O) with a loud
      * warning: external readers through the catalog then see PRE-DELETE
      * (and pre-update) rows until the DVs are folded. The substitution is
      * the honest degraded mode for catalogs that must keep tracking a
      * merge-on-read table between folds. */
    dvSyncBase: () => Boolean = () => false) {

  /** Commit an update, then sync the catalog with a minimal diff.
    * Returns the new table state and the changes applied to the catalog.
    * The returned TableVersion is pinned to THIS update's commit id (one
    * `tableState` read, `versionAt(update.id)`): a concurrent commit landing
    * right after ours can advance the synced catalog, but never swap another
    * writer's state into our return value. */
  def commit(table: TableName, update: TableUpdate): (TableVersion, TableChanges) = {
    tracker.commit(table, update)
    pinAndSync(table, update)
  }

  /** [[commit]] with optimistic concurrency: the commit lands only if the
    * head still equals `expectedHead` ([[VersionTracker.commitIf]]); a moved
    * head raises [[CommitConflictError]] BEFORE any data or catalog change.
    * For writers whose operations were derived by reading the table first
    * (compaction, replace-all, read-modify-write pipelines). */
  def commitIf(table: TableName, update: TableUpdate, expectedHead: CommitId): (TableVersion, TableChanges) = {
    tracker.commitIf(table, update, expectedHead)
    pinAndSync(table, update)
  }

  private def pinAndSync(table: TableName, update: TableUpdate): (TableVersion, TableChanges) = {
    // additive evolution must reach the catalog too: Hive's fixed column
    // list would otherwise hide the evolved columns from every
    // `spark.table()` reader even though the data files carry them
    val schemaOps = update.operations.collect {
      case TableOperation.SetTableSchema(json) => MetastoreOperation.UpdateSchema(json)
    }
    // both resolutions are BOUNDED in the persistent stores (fold
    // checkpoint + tail — a just-committed id is always in the tail), so
    // the post-commit pin/sync a streaming sink pays per micro-batch never
    // materializes its history
    val changes = syncTo(table, tracker.currentVersion(table), schemaOps)
    (tracker.versionAt(table, update.metadata.id), changes)
  }

  /** Re-sync the catalog to the tracker's CURRENT state without committing
    * anything — the catch-up half of flows that commit through the tracker
    * directly (multi-table atomic publish via
    * [[GroupCommitTracker.commitGroup]]). `schemaOps` carries any
    * [[MetastoreOperation.UpdateSchema]] widenings the synced commits
    * introduced. */
  def sync(table: TableName, schemaOps: List[MetastoreOperation] = Nil): TableChanges =
    syncTo(table, tracker.currentVersion(table), schemaOps)

  /** Move the current ref to ANY historical commit and re-point the catalog.
    * Metadata-only: zero data movement (docs/concepts.md:80-83). Columns are
    * never retracted on rollback — additive evolution is one-way; a
    * historical state simply reads NULL in post-rollback-hidden columns.
    *
    * A checkout is an EPHEMERAL ref move (git-checkout semantics): the next
    * commit folds the FULL history, so writes on top of a mid-history ref
    * re-apply everything the checkout rolled past. For a rollback that
    * SURVIVES later writes, use [[restore]]. */
  def checkout(table: TableName, id: CommitId): TableChanges = {
    tracker.setCurrentVersion(table, id)
    syncTo(table, tracker.currentVersion(table), Nil)
  }

  /** DURABLE rollback (Delta-RESTORE semantics): materialize the visible
    * state as of commit `id` as a NEW commit at the TIP of history —
    * the operations are the tip→target diff ([[Metastore.computeChanges]]
    * translated back to log operations), so the table's state is the
    * restored one no matter what is committed afterwards. This is what a
    * bare ref move ([[checkout]]) cannot give: the tracker contract folds
    * the full history on the next commit, silently re-applying whatever the
    * moved ref had rolled past (e.g. an unrelated INSERT after "undo that
    * DELETE" would re-delete the restored rows). Still metadata-only —
    * partitions repoint to existing version directories, zero data bytes
    * move at any table size — and still undoable: history is never
    * rewritten, so restoring to the pre-restore commit rolls forward again.
    *
    * When the restored commit recorded a different schema than the tip's
    * record, the restore commit re-records it, so log-resolved reads and
    * the drift guard see the restored shape (a restored pre-evolution state
    * is made of pre-evolution files). The commit is CAS'd on the ref read
    * at entry ([[VersionTracker.commitIf]]): a concurrent writer landing
    * mid-restore raises [[CommitConflictError]] instead of being silently
    * rolled back by a diff computed against a stale tip. */
  def restore(
      table: TableName, id: CommitId,
      userId: UserId, message: String): (TableUpdate, TableChanges) = {
    val st = tracker.tableState(table)
    val target = st.versionAt(id) // loud UnknownCommitError on a bad id
    val tip = TableState.foldVersion(st.updates)
    val ops = Metastore.computeChanges(tip, target).operations.map {
      case MetastoreOperation.AddPartition(p, v)           => TableOperation.AddPartitionVersion(p, v)
      case MetastoreOperation.UpdatePartitionVersion(p, v) => TableOperation.AddPartitionVersion(p, v)
      case MetastoreOperation.RemovePartition(p)           => TableOperation.RemovePartition(p)
      case MetastoreOperation.UpdateTableVersion(v)        => TableOperation.AddTableVersion(v)
      case op: MetastoreOperation.UpdateSchema             =>
        throw new IllegalStateException(s"computeChanges never emits $op")
    }
    val tipSchema = st.updates.reverseIterator.flatMap(_.operations.reverseIterator)
      .collectFirst { case TableOperation.SetTableSchema(j) => j }
    val schemaOps = st.schemaJsonAt(id).filterNot(tipSchema.contains)
      .map(TableOperation.SetTableSchema(_)).toList
    val update = TableUpdate(userId, message, java.time.Instant.now(), schemaOps ++ ops)
    val (_, changes) = commitIf(table, update, st.currentVersion)
    (update, changes)
  }

  private def syncTo(
      table: TableName, target: TableVersion,
      schemaOps: List[MetastoreOperation]): TableChanges = {
    val catalogView =
      try metastore.currentVersion(table)
      catch { case _: UnknownTableError => TableVersion.empty(tracker.isSnapshotTable(table)) }
    // schema widening first: partitions added by the same commit may carry
    // the new columns, and they should land under the widened column list
    val changes = TableChanges(
      schemaOps ++ Metastore.computeChanges(catalogView, substituteDvBases(table, target)).operations)
    metastore.update(table, changes)
    changes
  }

  /** The opt-in DV degraded sync (see the constructor doc): marker
    * partitions substitute their BASE data versions, resolved from the
    * log's SetVersionBase records, with one loud warning per sync. Off (the
    * default) passes the state through untouched — the catalog seam then
    * refuses markers loudly. */
  private def substituteDvBases(table: TableName, target: TableVersion): TableVersion =
    target match {
      case PartitionedTableVersion(pvs)
          if dvSyncBase() && pvs.valuesIterator.exists(Version.isDeleteMarker) =>
        val bases = tracker.tableState(table).versionBases
        val substituted = pvs.map {
          case (p, v) if Version.isDeleteMarker(v) =>
            p -> bases.getOrElse((p, v), throw new IllegalStateException(
              s"deletion-vector version ${v.label} of '${p.toPath}' has no " +
                "SetVersionBase record in the commit log — corrupt DV state"))
          case pv => pv
        }
        val n = pvs.count { case (_, v) => Version.isDeleteMarker(v) }
        // external readers through the catalog see PRE-DELETE (and
        // pre-update) rows until the DVs are folded (compact / SQL OPTIMIZE)
        GraftLog.warn("catalog_sync_dv_base_versions", "table" -> table.fullyQualifiedName,
          "dv_partitions" -> n, "catalog_shows" -> "pre_delete_rows")
        PartitionedTableVersion(substituted)
      case other => other
    }
}

/** In-memory catalog mirror — the minimum [[Metastore]]: tracks what a
  * catalog would currently show. Used as the default catalog when no external
  * metastore is wired (reads resolve paths from the tracker anyway). */
final class InMemoryMetastore extends Metastore {
  private var views = Map.empty[TableName, TableVersion]

  override def currentVersion(table: TableName): TableVersion =
    synchronized(views.getOrElse(table, throw UnknownTableError(table)))

  override def update(table: TableName, changes: TableChanges): Unit = synchronized {
    val cur = views.get(table)
    val next = changes.operations.foldLeft(cur) {
      case (acc, MetastoreOperation.UpdateTableVersion(v)) =>
        Some(SnapshotTableVersion(v))
      // no column list in this mirror — and the table-flavor view must pass
      // through untouched (treating this as a partition op would clobber a
      // snapshot view with an empty partitioned one)
      case (acc, MetastoreOperation.UpdateSchema(_)) => acc
      case (acc, op) =>
        val partitions = acc match {
          case Some(PartitionedTableVersion(m)) => m
          case _                                => Map.empty[Partition, Version]
        }
        val updated = op match {
          case MetastoreOperation.AddPartition(p, v)            => partitions.updated(p, v)
          case MetastoreOperation.UpdatePartitionVersion(p, v)  => partitions.updated(p, v)
          case MetastoreOperation.RemovePartition(p)            => partitions - p
          case MetastoreOperation.UpdateTableVersion(_)         => partitions // unreachable
          case MetastoreOperation.UpdateSchema(_)               => partitions // unreachable
        }
        Some(PartitionedTableVersion(updated))
    }
    next.foreach(v => views += table -> v)
    // an empty change list against an unknown table still registers the view
    if (next.isEmpty && !views.contains(table)) () // nothing to record
  }
}
