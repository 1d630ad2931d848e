package graft.operators

import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

import java.net.URI

/**
 * Spark-native versioned table engine: immutable versioned partition writes +
 * path-resolved reads + metadata-only time travel.
 *
 * Write path follows the reference's design
 * (`spark/src/main/scala/dev/chronicles/spark/SparkSupport.scala:51-128`):
 * a literal `_version` column appended to `partitionBy` makes Spark's dynamic
 * partitioning physically create the version directory — zero custom I/O.
 *
 * Read path is the catalog-free "path resolution" variant (SURVEY §3.2): fold
 * the commit log to a `Map[Partition, Version]`, build the exact list of
 * versioned leaf directories, and hand them to the Parquet/ORC reader with
 * `basePath` set so Hive-style partition columns (and `_version`) are
 * recovered by partition discovery. At scale this keeps every Spark strength
 * intact: only the current version's files are ever listed, partition pruning
 * happens both driver-side (we can pre-filter the partition map) and in
 * Catalyst (partition columns are real partition columns of the scan), and
 * file listing is O(live partitions), not O(all versions ever written).
 */
final class VersionedTables(
    val spark: SparkSession,
    val tracker: VersionTracker,
    val metastore: Metastore = new InMemoryMetastore) {

  /** Opt-in DV catalog-sync degradation: `spark.graft.dv.catalogSync=base`
    * substitutes marker partitions' BASE versions into Hive/Glue syncs
    * (loud warning, pre-delete rows visible externally until folded);
    * the default refuses markers loudly at the catalog seam. */
  val versioned = new VersionedMetastore(tracker, metastore,
    dvSyncBase = () =>
      spark.conf.get("spark.graft.dv.catalogSync", "refuse").equalsIgnoreCase("base"))

  def initTable(table: TableDefinition, userId: UserId, message: String): Unit =
    tracker.initTable(table.name, table.isSnapshot, userId, message, java.time.Instant.now())

  def log(table: TableName): List[TableUpdateMetadata] = tracker.updates(table)

  /** Paged [[log]] — O(page) in both stores, the form long histories want. */
  def log(table: TableName, limit: Int, offset: Int): List[TableUpdateMetadata] =
    tracker.updates(table, limit, offset)

  /** The current ref alone — O(1) in both persistent stores (head-file
    * read / indexed SELECT), never a history materialization. This is the
    * value CAS writers compare against (the REF, which a historical
    * checkout can point mid-history — not necessarily the newest commit). */
  def headCommit(table: TableName): CommitId = tracker.currentRef(table)

  def checkout(table: TableName, id: CommitId): TableChanges = versioned.checkout(table, id)

  /** Durable rollback: commit the tip→`id` state diff as a NEW commit, so
    * the restored state survives later writes ([[graft.core
    * .VersionedMetastore.restore]] — [[checkout]] is the ephemeral ref
    * move). Metadata-only at any table size. */
  def restore(table: TableName, id: CommitId, userId: UserId, message: String): (TableUpdate, TableChanges) =
    versioned.restore(table, id, userId, message)

  /** Read the table at its current version. Every table whose history
    * recorded a schema (`SetTableSchema`) reads under that schema —
    * planning then opens no footers — resolved with the version map in one
    * [[graft.core.VersionTracker.headState]] call, which the persistent
    * stores serve from their fold checkpoint + commit tail: the
    * per-statement cost of reading a 100k-commit streaming-sink table is
    * O(partitions + tail), never a history materialization. Histories that
    * never recorded a schema (adopted, imported, pre-upgrade) infer it from
    * the data files. */
  def read(table: TableDefinition): DataFrame = {
    // The LOG-RECORDED schema (SetTableSchema) serves as the reader schema
    // whenever the history carries one — for ANY table, not just
    // mergeSchema ones (round 17): schemaOpsFor records exactly the shape
    // of the files each commit wrote (drift refuses at write on uniform
    // tables), so the record equals what footer inference would return,
    // minus the planning-time schema-inference job every hint-less read
    // pays. Histories that never recorded a schema (adopted / imported /
    // pre-upgrade) parse to None and keep the inference path.
    val hs = tracker.headState(table.name)
    readVersion(table, hs.version, VersionedTables.parseSchemaJson(hs.schemaJson))
  }

  /** One pinned commit for a call that reads several times:
    * (commit, visible version, schema hint). The head comes from the
    * bounded [[graft.core.VersionTracker.headState]], with the schema the
    * log recorded there; a historical `at` resolves through the bounded
    * [[versionAt]], which carries no schema record, so its reads infer. */
  private[operators] def pin(
      table: TableName, at: Option[CommitId]): (CommitId, TableVersion, Option[StructType]) =
    at match {
      case Some(id) => (id, versionAt(table, id), None)
      case None =>
        val hs = tracker.headState(table)
        (hs.head, hs.version, VersionedTables.parseSchemaJson(hs.schemaJson))
    }

  /** The table's visible state as of commit `id` (errors on unknown ids).
    * Bounded in the persistent stores when `id` is past the fold boundary. */
  def versionAt(table: TableName, id: CommitId): TableVersion =
    tracker.versionAt(table, id)

  /** Time travel: read the table as of a historical commit — read-only, no
    * catalog mutation (SURVEY §2.B `q_time_travel`). `keep` prunes the
    * partition set DRIVER-SIDE before any file listing, like
    * [[readPartitions]] — a one-day read of a 10-year table at a historical
    * commit lists one day's files, not ten years'. */
  def readAt(
      table: TableDefinition, id: CommitId,
      keep: Partition => Boolean = _ => true): DataFrame = {
    val st = tracker.tableState(table.name)
    readVersion(table, prunePartitions(st.versionAt(id), keep), schemaHintAt(table, st, id))
  }

  /** Metadata-only diff of the visible state between two commits: which
    * partitions were added / repointed / removed, without touching data.
    * Reuses the same diff the metastore sync runs ([[Metastore.computeChanges]]). */
  def changesBetween(table: TableName, from: CommitId, to: CommitId): TableChanges = {
    val st = tracker.tableState(table) // one log fetch for both endpoints
    Metastore.computeChanges(st.versionAt(from), st.versionAt(to))
  }

  /** Incremental (CDC-style) read: the rows of every partition that is new or
    * was repointed to a different version between `from` and `to`, read at
    * their `to` version. The consumer pattern for 100 TB pipelines: process
    * only what a commit range changed instead of rescanning the table —
    * O(changed partitions) file listing, like every other read path here.
    * Partitions REMOVED in the range have no rows at `to` and so don't appear;
    * use [[changesBetween]] to enumerate removals.
    *
    * `keep` restricts the CDC read to the selected partitions before any
    * file listing — the consumer of one day's changes on a 10-year table
    * lists (and reads) only that day's changed partitions. */
  def readChangesBetween(
      table: TableDefinition, from: CommitId, to: CommitId,
      keep: Partition => Boolean = _ => true): DataFrame = {
    val st = tracker.tableState(table.name) // one log fetch for both endpoints
    val hint = schemaHintAt(table, st, to)
    (st.versionAt(from), st.versionAt(to)) match {
      case (PartitionedTableVersion(a), PartitionedTableVersion(b)) =>
        val changed = b.filter { case (p, v) => keep(p) && !a.get(p).contains(v) }
        readVersion(table, PartitionedTableVersion(changed), hint)
      case (SnapshotTableVersion(va), snap @ SnapshotTableVersion(vb)) =>
        if (va == vb) emptyLike(table) else readVersion(table, snap, hint)
      case _ =>
        throw new IllegalArgumentException(
          "Cannot diff partitioned and snapshot table versions")
    }
  }

  /** The rows introduced BY one commit: [[readChangesBetween]] from the
    * commit's parent to the commit itself (an initial commit diffs against
    * the empty state). Because the answer depends only on `id` — not on when
    * or in what order the caller asks — this is the idempotent per-commit
    * unit that composes with [[graft.streaming.CommitStream]]'s UNORDERED
    * commit feed into a streaming CDC pipeline: for each streamed commit id,
    * process `readChangesAt(table, id)`; replays and out-of-order delivery
    * re-read the same rows instead of corrupting a range. `keep` prunes the
    * changed-partition set driver-side, as on [[readChangesBetween]]. */
  def readChangesAt(
      table: TableDefinition, id: CommitId,
      keep: Partition => Boolean = _ => true): DataFrame = {
    val st = tracker.tableState(table.name)
    val idx = st.updates.indexWhere(_.metadata.id == id)
    if (idx < 0) throw UnknownCommitError(id)
    val at = st.versionAt(id)
    val parent =
      if (idx == 0) at match { // initial commit: diff against emptiness
        case _: PartitionedTableVersion => PartitionedTableVersion(Map.empty)
        case _: SnapshotTableVersion    => SnapshotTableVersion(Version.Unversioned)
      }
      else st.versionAt(st.updates(idx - 1).metadata.id)
    val hint = schemaHintAt(table, st, id)
    (parent, at) match {
      case (PartitionedTableVersion(a), PartitionedTableVersion(b)) =>
        val changed = b.filter { case (p, v) => keep(p) && !a.get(p).contains(v) }
        readVersion(table, PartitionedTableVersion(changed), hint)
      case (SnapshotTableVersion(va), snap @ SnapshotTableVersion(vb)) =>
        if (va == vb) emptyLike(table) else readVersion(table, snap, hint)
      case _ =>
        throw new IllegalArgumentException(
          "Cannot diff partitioned and snapshot table versions")
    }
  }

  /** Small-file compaction as a first-class versioned operation: rewrite the
    * CURRENT data of the selected partitions into a NEW version with
    * `filesPerPartition` files each, and commit it. Readers flip atomically at
    * the commit; the fragmented version stays on disk for time travel. Rows
    * are bit-identical — only the file layout changes.
    *
    * Layout control: with the default `filesPerPartition = 1`, rows are
    * hash-shuffled on the partition columns, so every partition value lands
    * in exactly one write task → exactly one file. With `filesPerPartition =
    * F > 1`, rows are round-robined into exactly F tasks, each writing one
    * file per partition it holds → exactly F files for every large partition
    * (fewer for partitions with < F rows). Both are explicit repartitions,
    * so the shared writer's small-input rule ([[VersionedTables
    * .writeDataVersioned]]: one task for inputs under AQE's minimum
    * partition size) leaves them as they are. Use F > 1 together with `keep` to
    * spread a few oversized partitions across F parallel writers; the
    * default is right for the common many-partitions case.
    *
    * Snapshot tables are always rewritten whole — `keep` does not apply (a
    * snapshot is one unit of data). A `keep` selecting zero partitions, an
    * empty table, or a not-yet-versioned adopted snapshot is a NO-OP: no
    * write, no commit, empty changes returned.
    *
    * `clusterBy` additionally sorts rows on the given columns WITHIN each
    * output file (Delta OPTIMIZE-style clustering): Parquet row-group min/max
    * stats on those columns become tight, so later reads filtering on them
    * skip whole row groups. Layout-only, like everything else here — rows are
    * unchanged.
    *
    * Concurrency: the commit is a compare-and-swap on the head this
    * compaction READ ([[graft.core.VersionTracker.commitIf]]) — if any commit
    * lands mid-compaction the rewrite is stale data and fails with
    * [[graft.core.CommitConflictError]] instead of silently clobbering the
    * newer write; just re-run it. */
  def compact(
      table: TableDefinition,
      userId: UserId,
      message: String,
      keep: Partition => Boolean = _ => true,
      filesPerPartition: Int = 1,
      clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) = {
    import VersionedTables.DatasetVersionedOps
    import org.apache.spark.sql.functions.col
    require(filesPerPartition >= 1, s"filesPerPartition must be >= 1, was $filesPerPartition")
    // empty selection (or never-written snapshot) is a NO-OP, not an error:
    // a maintenance job whose filter matches nothing must not fail or commit
    val state = tracker.tableState(table.name)
    val currentState = state.currentTableVersion
    val selectionEmpty = currentState match {
      case PartitionedTableVersion(pvs) => !pvs.keysIterator.exists(keep)
      case SnapshotTableVersion(v)      => v == Version.Unversioned
    }
    if (selectionEmpty) return (currentState, TableChanges.empty)
    val current = readPartitions(table, keep)
    val partCols = table.partitionSchema.columnNames.map(col)
    val packed =
      if (partCols.isEmpty || filesPerPartition > 1) current.repartition(filesPerPartition)
      else current.repartition(partCols: _*)
    // CAS on the head the rewrite READ: a commit that lands mid-compaction
    // (e.g. a fresh load into one of the partitions being rewritten) makes
    // this compaction's output stale data — without the guard it would
    // silently clobber the newer write; with it the compaction fails loudly
    // (CommitConflictError) and can simply be re-run
    packed.versionedInsertIntoIf(this, table, userId, message, state.currentVersion, clusterBy)
  }

  /** Fold ONLY the partitions that currently carry merge-on-read deletion
    * vectors ([[DeleteVectors]] markers) back into plain data versions — a
    * rewrite scoped to exactly the DV'd partitions, so a 10,000-partition
    * table with three DV'd partitions rewrites three, not 10,000. `keep`
    * narrows the fold further, to a subset of the DV'd partitions (the
    * inline auto-fold a stacked merge-on-read UPDATE uses folds exactly
    * the hot partition). Unlike a plain [[compact]], a partition whose DV
    * deleted EVERY row is REMOVED from the commit (its directories stay on
    * disk for time travel) — otherwise it would sit at its marker forever.
    * No-op (no write, no commit) when nothing selected carries a DV; CAS'd
    * on the head read at entry like every read-modify-write here. */
  def foldDeleteVectors(
      table: TableDefinition,
      userId: UserId,
      message: String,
      clusterBy: Seq[String] = Nil,
      keep: Partition => Boolean = _ => true): (TableVersion, TableChanges) = {
    import org.apache.spark.sql.functions.col
    val state = tracker.tableState(table.name)
    val head = state.currentVersion
    val snapshot = state.currentTableVersion
    val markers: Map[Partition, Version] = snapshot match {
      case PartitionedTableVersion(pvs) =>
        pvs.filter { case (p, v) => Version.isDeleteMarker(v) && keep(p) }
      case _: SnapshotTableVersion => Map.empty
    }
    if (markers.isEmpty) return (snapshot, TableChanges.empty)
    val hint = schemaHintAt(table, state, head)
    val live = readVersion(table, PartitionedTableVersion(markers), hint)
    // fused write: surviving-partition discovery is observed DURING the
    // write job (writeDataVersionedObserved), so the DV-applied read runs
    // once — the former partitionValues-then-write pair needed a persist
    // (a full materialization of the fold slice) to avoid evaluating it
    // twice. A fold whose DVs deleted every row writes no directories and
    // returns no partitions; the commit then carries only removes.
    val version = Version.generate()
    val partCols = table.partitionSchema.columnNames.map(col)
    val arranged =
      if (partCols.isEmpty) live.repartition(1) else live.repartition(partCols: _*)
    val finalParts =
      VersionedTables.writeDataVersionedObserved(arranged, table, version, clusterBy)
    if (finalParts.nonEmpty && table.stats.nonEmpty)
      TableStats.collectAndWrite(spark, table, version, finalParts, Some(arranged.schema))
    val emptied = (markers.keySet -- finalParts.toSet).toList.sortBy(_.toPath)
    val ops = finalParts.sortBy(_.toPath)
      .map(TableOperation.AddPartitionVersion(_, version)) ++
      emptied.map(TableOperation.RemovePartition(_))
    versioned.commitIf(table.name,
      TableUpdate(userId, message, java.time.Instant.now(), ops), head)
  }

  /** Register the table's CURRENT version as a temp view so it is queryable
    * with `spark.sql` without a Hive catalog. The view captures the version
    * at registration time (re-register after commits/checkouts — or wire the
    * [[graft.sources.SparkHiveMetastore]] for always-current SQL reads). */
  def createView(table: TableDefinition, viewName: String): Unit =
    read(table).createOrReplaceTempView(viewName)

  /** Time travel by timestamp (Delta-style `AS OF`): read the table as of
    * the last commit at or before `instant`. Errors if the table had no
    * commits yet at that time. */
  def readAsOf(
      table: TableDefinition, instant: java.time.Instant,
      keep: Partition => Boolean = _ => true): DataFrame = {
    // bounded resolution end to end for recent timestamps (the common
    // case): newest-first commit walk + fold-doc versionAt; only a
    // mergeSchema table travelling into DEEP history pays a replay for
    // its schema hint
    val at = tracker.commitIdAsOf(table.name, instant)
      .getOrElse(throw new IllegalArgumentException(
        s"No commit at or before $instant for ${table.name}"))
    val hint =
      if (!table.mergesSchema) None
      else {
        val hs = tracker.headState(table.name)
        if (hs.head == at) VersionedTables.parseSchemaJson(hs.schemaJson)
        else schemaHintAt(table, tracker.tableState(table.name), at)
      }
    readVersion(table, prunePartitions(tracker.versionAt(table.name, at), keep), hint)
  }

  /** Audit report: `_version=` directories on disk that no commit in the
    * table's FULL history references — debris from writes that failed before
    * their commit landed. Reporting only (the engine never deletes data);
    * feed the result to an external janitor if reclaiming space. */
  def orphanedVersions(table: TableDefinition): List[URI] = {
    import org.apache.hadoop.fs.Path
    val referenced: Set[String] = tracker.tableState(table.name).updates
      .flatMap(_.operations).collect {
        case TableOperation.AddPartitionVersion(_, v) => v.label
        case TableOperation.AddTableVersion(v)        => v.label
      }.toSet
    val fs = new Path(table.location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(table.location)
    if (!fs.exists(root)) Nil
    else {
      val it = fs.listFiles(root, true)
      val dirs = scala.collection.mutable.Set.empty[URI]
      while (it.hasNext) {
        val f = it.next().getPath
        var p = f.getParent
        while (p != null && p.toString.length >= root.toString.length) {
          if (p.getName.startsWith(VersionPaths.VersionDirPrefix)) {
            val label = p.getName.stripPrefix(VersionPaths.VersionDirPrefix)
            if (!referenced.contains(label)) dirs += p.toUri
          }
          p = p.getParent
        }
      }
      dirs.toList.sortBy(_.toString)
    }
  }

  /** Re-attach to a STAGED (uncommitted) version written by another
    * process — the cross-process half of write-audit-publish: `stage` in
    * one JVM, `audit` and `publish` later (e.g. from the CLI).
    *
    * Preferred source of truth is the staging MANIFEST every stage writes
    * (`_staging/<label>.json`, the commit-file wire format): it carries
    * the exact operation list, so a replace-all stage re-attaches with its
    * RemovePartition ops intact. Without a manifest (pre-round-11 stages,
    * or one deleted out of band) the table location is scanned for this
    * label's `_version=` directories (exactly partition-schema-many levels
    * deep, never a full tree walk) and only the ADD operations can be
    * rebuilt — a replace-all stage found this way is REFUSED rather than
    * silently downgraded to an insert (the adds cover every current head
    * partition ⇒ ambiguous; anything else publishes as the plain insert it
    * is). Always refuses a label some commit already references — the
    * double-publish guard, which also covers a crash between a publish and
    * its manifest cleanup. (The guard rides `tableState`, which the
    * persistent stores serve from their fold checkpoint + tail.) */
  def findStaged(
      table: TableDefinition,
      label: String,
      userId: UserId,
      message: String): Either[String, VersionedTables.StagedWrite] = {
    import org.apache.hadoop.fs.Path
    Version.parse(label) match {
      case Left(err) => Left(s"bad version label '$label': $err")
      case Right(version) =>
        val committed = tracker.tableState(table.name).updates
          .flatMap(_.operations).exists {
            case TableOperation.AddPartitionVersion(_, v) => v == version
            case TableOperation.AddTableVersion(v)        => v == version
            case _                                        => false
          }
        if (committed)
          Left(s"version $label is already committed to ${table.name.fullyQualifiedName}")
        else {
          val root = new Path(table.location)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val dirName = VersionPaths.VersionDirPrefix + label
          val fromManifest: Option[List[TableOperation]] =
            VersionedTables.readStagingManifest(
              spark.sparkContext.hadoopConfiguration, table.location, label)
              .map(_.operations)
          val opsOrErr: Either[String, List[TableOperation]] = fromManifest.map(Right(_)).getOrElse {
            if (table.isSnapshot) {
              if (fs.exists(new Path(root, dirName)))
                Right(List(TableOperation.AddTableVersion(version)))
              else Right(Nil)
            } else {
              // A staged dir whose name this codec can't parse back must
              // REFUSE the whole re-attach, not silently omit the partition
              // — publishing the remainder would be a partial publish with
              // no error, the exact guess the replace-all branch below
              // refuses to make.
              def walk(p: Path, cols: List[String], rel: List[String]): List[Either[String, Partition]] =
                cols match {
                  case Nil =>
                    if (fs.exists(new Path(p, dirName)))
                      List(Partition.parseEscaped(rel.mkString("/"))
                        .left.map(e => s"'${rel.mkString("/")}': $e"))
                    else Nil
                  case c :: rest =>
                    if (!fs.exists(p)) Nil
                    else fs.listStatus(p).toList
                      .filter(s => s.isDirectory && s.getPath.getName.startsWith(c + "="))
                      .flatMap(s => walk(s.getPath, rest, rel :+ s.getPath.getName))
                }
              val walked = walk(root, table.partitionSchema.columnNames, Nil)
              val bad = walked.collect { case Left(e) => e }
              if (bad.nonEmpty)
                Left(s"version $label has no staging manifest and staged partition " +
                  s"directories that do not parse back: ${bad.mkString("; ")} — " +
                  "re-stage (manifests carry the exact partitions) or publish from the staging JVM")
              else
                Right(walked.collect { case Right(p) => p }
                  .sortBy(_.toPath)
                  .map(TableOperation.AddPartitionVersion(_, version)))
            }
          }
          opsOrErr match {
            case Left(err) => Left(err)
            case Right(ops) =>
          val adds = ops.collect { case TableOperation.AddPartitionVersion(p, v) => p -> v }
          if (ops.isEmpty)
            Left(s"no staged data for version $label under ${table.location}")
          else if (fromManifest.isEmpty && !table.isSnapshot &&
              (tracker.currentVersion(table.name) match {
                case PartitionedTableVersion(pvs) =>
                  pvs.nonEmpty && pvs.keySet.subsetOf(adds.map(_._1).toSet)
                case _ => false
              }))
            // every head partition is also staged and there is no manifest
            // to say whether absent-partition REMOVES were intended: could
            // be a replace-all whose removes are unrecoverable from disk.
            // Refuse instead of guessing.
            Left(s"version $label has no staging manifest and covers every current " +
              "partition — cannot tell a replace-all stage from an insert; " +
              "re-stage (manifests are written since round 11) or publish from the staging JVM")
          else {
            val tv =
              if (table.isSnapshot) SnapshotTableVersion(version)
              else PartitionedTableVersion(adds.toMap)
            // the schema the stage recorded, else the head's record (a stage
            // that recorded none matched it); a stage re-attached without its
            // manifest has no record of its own and reads its footers
            val recorded = ops.collectFirst { case TableOperation.SetTableSchema(j) => j }
              .orElse(fromManifest.flatMap(_ => tracker.headState(table.name).schemaJson))
            val schema = readVersion(table, tv, VersionedTables.parseSchemaJson(recorded)).schema
            Right(VersionedTables.StagedWrite(this, table, userId, message, version, ops, schema,
              manifested = fromManifest.isDefined))
          }
          }
        }
    }
  }

  /** Retention report (VACUUM-style, reporting only — the engine never
    * deletes data): version directories that are referenced by SOME commit
    * but not visible in any of the last `keepLast` commits' table states.
    * Deleting them caps time travel at `keepLast` commits back; anything NOT
    * listed is either live or inside the retention window. Complements
    * [[orphanedVersions]] (directories no commit references at all). */
  def expirableVersions(table: TableDefinition, keepLast: Int): List[URI] =
    // tagged commits are pinned: a tag is a reproducibility promise, so its
    // dataset state is never expirable regardless of the keep-last window
    Retention.expirableVersionUris(tracker.tableState(table.name), table.location, keepLast,
      pinned = tracker.tags(table.name).map(_._2))

  /** Read the table at a named tag — `readAt(tagCommit)`. The reproducibility
    * read: `readAtTag(t, "model-v3-train")` returns the exact rows that tag
    * pinned, forever (vacuum keeps tagged states alive). */
  def readAtTag(table: TableDefinition, tag: String): DataFrame =
    readAt(table, tracker.tagCommit(table.name, tag))

  import VersionedTables.VacuumResult

  /** Physically reclaim storage from expired versions (Delta/Iceberg-style
    * VACUUM — a deliberate extension beyond the reference, which never
    * deletes; the default `dryRun = true` preserves its stance unless the
    * caller opts in). Targets are re-derived AT CALL TIME from
    * [[expirableVersions]] (history beyond the last `keepLast` commits) plus,
    * when `includeOrphans`, [[orphanedVersions]] (debris no commit
    * references). After a real run, time travel further back than `keepLast`
    * commits fails loudly at read time (missing path); the commit LOG is
    * never touched, so history metadata remains auditable.
    *
    * Defense in depth before each delete (shared with the CLI via
    * [[graft.sources.VersionJanitor]]): the target must be a `_version=`
    * leaf, on the same filesystem as the table, strictly under the table
    * location — a corrupted report can refuse, never over-delete. */
  def vacuum(
      table: TableDefinition,
      keepLast: Int,
      includeOrphans: Boolean = false,
      dryRun: Boolean = true): VacuumResult = {
    val targets = (expirableVersions(table, keepLast) ++
      (if (includeOrphans) orphanedVersions(table) else Nil)).distinct.sortBy(_.toString)
    if (dryRun) return VacuumResult(targets, Nil, Nil)
    val outcome = graft.sources.VersionJanitor.deleteVersionDirs(
      spark.sparkContext.hadoopConfiguration, table.location, targets)
    // reclaim abandoned staging manifests and stats manifests alongside
    // their version dirs (committed versions never have a staging manifest
    // — publish deletes it). A stats manifest is per LABEL while
    // expirability is per (partition, version): one label can be expired
    // for one partition yet still be another partition's LIVE version, so
    // the manifest goes only when NO retained state references the label.
    val liveLabels = Retention.liveVersionLabels(
      tracker.tableState(table.name), keepLast, pinned = tracker.tags(table.name).map(_._2))
    outcome.deleted.foreach { uri =>
      val label = VersionPaths.parseVersion(uri)
      if (label != Version.Unversioned) {
        VersionedTables.deleteStagingManifest(
          spark.sparkContext.hadoopConfiguration, table.location, label.label)
        if (!liveLabels.contains(label.label))
          TableStats.deleteManifest(
            spark.sparkContext.hadoopConfiguration, table.location, label.label)
      }
    }
    // roll the surviving manifests into a fresh checkpoint (stats tables
    // only): vacuum is the natural "history just got bounded" moment, and
    // the checkpoint is what keeps a cold reader's first metadata touch
    // O(1 + labels-since-checkpoint) instead of O(live labels)
    if (table.stats.isDefined && outcome.deleted.nonEmpty)
      TableStats.writeStatsCheckpoint(this, table)
    VacuumResult(targets, outcome.deleted, outcome.failed)
  }

  /**
   * MULTI-TABLE ATOMIC PUBLISH: commit several staged writes — one per
   * table, typically the N outputs of one pipeline run — as ONE commit
   * group ([[graft.core.GroupCommitTracker.commitGroup]]): every stage's
   * expected head CAS-verifies and all tables advance together, or none
   * does (a conflict raises [[graft.core.CommitConflictError]] before any
   * table moves; the staged files remain vacuum-reclaimable debris, same
   * as a failed single-table CAS). Requires this engine's tracker to
   * support group commits (the in-memory and file-backed stores do).
   * Heads are the ones each stage should be based on — pass
   * [[headCommit]] captured before staging. After the group lands, each
   * table's catalog view is synced (schema widenings included).
   * Crash/reader isolation caveats are the trait's: atomic against
   * concurrent WRITERS; a crash mid-publish leaves a re-runnable partial
   * group.
   */
  def publishAtomically(
      stages: Seq[(VersionedTables.StagedWrite, CommitId)]): Map[TableName, TableChanges] = {
    require(stages.nonEmpty, "publishAtomically needs at least one staged write")
    val group = tracker match {
      case g: GroupCommitTracker => g
      case other => throw new UnsupportedOperationException(
        s"tracker ${other.getClass.getSimpleName} does not support atomic commit groups")
    }
    val now = java.time.Instant.now()
    val commits = stages.map { case (s, head) =>
      require(s.engineRef eq this,
        s"staged write for ${s.table.name} belongs to a different engine")
      (s.table.name, TableUpdate(s.userId, s.message, now, s.stagedOps), head)
    }.toList
    group.commitGroup(commits)
    // post-commit bookkeeping per table: schema cache, catalog sync,
    // staging-manifest cleanup — same steps StagedWrite.publish runs
    stages.zip(commits).map { case ((s, _), (name, update, _)) =>
      noteSchemaAt(s.table, update.metadata.id, s.stagedSchema)
      s.cleanupManifest()
      val schemaOps = update.operations.collect {
        case TableOperation.SetTableSchema(json) => MetastoreOperation.UpdateSchema(json)
      }
      name -> versioned.sync(name, schemaOps)
    }.toMap
  }

  /** Write a stats-manifest checkpoint for the table's CURRENT version —
    * see [[TableStats.writeStatsCheckpoint]]. Safe no-op for tables
    * without manifests. */
  def checkpointStats(table: TableDefinition): Option[String] =
    TableStats.writeStatsCheckpoint(this, table)

  /** Read the current version of only the partitions matching `keep` — the
    * driver-side prune that makes partial reads O(selected partitions) at
    * 100 TB scale (no file listing outside the selection). */
  def readPartitions(table: TableDefinition, keep: Partition => Boolean): DataFrame = {
    // recorded-schema hint for any table that has one — see read()
    val hs = tracker.headState(table.name)
    readVersion(table, prunePartitions(hs.version, keep),
      VersionedTables.parseSchemaJson(hs.schemaJson))
  }

  /** Data-skipping read of the CURRENT version: prune whole partitions (by
    * their values) and individual files (by the commit-time stats manifest,
    * [[TableStats]]) that provably cannot satisfy `predicate`, then apply
    * the predicate normally — results always equal `read(table)
    * .filter(predicate)`; only the file listing and scan shrink. Versions
    * written without a [[graft.core.ColumnStatsConfig]] read unpruned. */
  def readWhere(table: TableDefinition, predicate: org.apache.spark.sql.Column): DataFrame = {
    // recorded-schema hint for any table that has one — see read()
    val hs = tracker.headState(table.name)
    TableStats.readVersionWhere(this, table, hs.version, predicate,
      VersionedTables.parseSchemaJson(hs.schemaJson))
  }

  /** [[readWhere]] at a historical commit — time travel with the same
    * file-level skipping (manifests are per version, so history prunes
    * exactly like the head). */
  def readAtWhere(
      table: TableDefinition, id: CommitId,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    val st = tracker.tableState(table.name)
    TableStats.readVersionWhere(this, table, st.versionAt(id), predicate,
      schemaHintAt(table, st, id))
  }

  /** Driver-side partition pruning shared by every partial read
    * ([[readPartitions]], [[readAt]], [[readChangesBetween]],
    * [[readChangesAt]]): drop non-matching partitions from the version map
    * BEFORE `readVersion` builds its path list, so file listing is
    * O(selected partitions). Snapshot versions pass through — a snapshot is
    * one unit of data, `keep` does not apply. */
  private def prunePartitions(version: TableVersion, keep: Partition => Boolean): TableVersion =
    version match {
      case PartitionedTableVersion(pvs) =>
        PartitionedTableVersion(pvs.filter { case (p, _) => keep(p) })
      case snap: SnapshotTableVersion => snap
    }

  /** (head commit, verified shape) per table: the schema AS OF a given head
    * is immutable (every write moves the head), so a matching head+shape
    * pair lets repeat writers — fixtures, compaction, per-batch ingestion —
    * skip the sample read entirely. Another writer's commit changes the
    * head and forces re-verification. */
  private val schemaShapeCache =
    new java.util.concurrent.ConcurrentHashMap[TableName, (CommitId, List[(String, String)])]()

  private def schemaShape(table: TableDefinition,
      s: org.apache.spark.sql.types.StructType): List[(String, String)] = {
    val partCols = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
    s.fields.toList
      .filterNot(f => partCols(f.name.toLowerCase))
      .map(f => (f.name.toLowerCase, f.dataType.catalogString))
      .sortBy(_._1)
  }

  /** Record that the table's schema at `head` is `shape` (just verified or
    * just written by this engine). */
  private[operators] def noteSchemaAt(table: TableDefinition, head: CommitId,
      shape: org.apache.spark.sql.types.StructType): Unit =
    schemaShapeCache.put(table.name, (head, schemaShape(table, shape)))

  /** Schema-drift guard for PARTIAL writes: the engine has no schema
    * evolution (reference-faithful — README.md:48-50 scopes it out), so a
    * `versionedInsertInto` whose dataset schema differs from the table's
    * would silently create MIXED-schema partitions that break every later
    * union read. Compares non-partition columns by (lowercased name,
    * catalog type) — order and nullability differences are fine; a rename,
    * drop, add, or retype fails loudly. Exempt by design, because neither
    * can ever mix schemas in one visible state: `versionedReplaceAll`
    * (rewrites the whole visible table — the schema-change path) and
    * SNAPSHOT tables (every insert replaces the entire table; reads load
    * exactly one self-contained version dir).
    *
    * Source: the schema the commit log recorded at the pinned head
    * ([[graft.core.TableOperation.SetTableSchema]]) whenever the history
    * carries one — no file is opened and no Spark job runs. Histories
    * without a record (adopted, imported, pre-upgrade) compare against
    * their data files: one SINGLE-partition sample (one directory listing +
    * one footer, O(1) in table size) on uniform tables, the footer-merged
    * union on mergeSchema tables. Either way only writes to non-empty
    * tables are checked.
    *
    * Applies to SELF-DESCRIBING formats only (parquet, orc): their footers
    * carry the written types, so an existing-vs-incoming mismatch is real
    * drift and a mixed union read genuinely breaks. Text formats (csv,
    * json) round-trip through lossy inference — a written bigint re-infers
    * as int — so comparing inferred types would flag false drift; they
    * keep the reference's caveat-emptor behavior.
    *
    * Returns the head commit the verification was performed AT (None when
    * the guard doesn't apply — snapshot tables, non-columnar formats).
    *
    * CONCURRENCY: the check is read-then-act. The guarantee "no mixed-schema
    * partitions" therefore holds for single-writer tables and for CAS'd
    * writers ([[TableOps.versionedInsertIntoIf]] commits only if the head
    * still equals the one passed in, so a schema-changing replaceAll that
    * lands between this check and the commit fails the CAS instead of mixing
    * schemas). An UNGUARDED [[TableOps.versionedInsertInto]] racing a
    * concurrent versionedReplaceAll with a new schema can still commit
    * mixed-schema partitions — use the `If` variant when replaceAll writers
    * may run concurrently. */
  private[operators] def requireCompatibleSchema(
      table: TableDefinition, df: DataFrame,
      allowAdditive: Boolean = false,
      pinnedState: Option[HeadState] = None): Option[CommitId] = {
    if (table.format != FileFormat.Parquet && table.format != FileFormat.Orc) return None
    // a snapshot insert REPLACES the entire visible table (AddTableVersion)
    // — every read loads exactly one self-contained version dir, so mixed
    // schemas cannot occur and a schema change is as legitimate as it is
    // via versionedReplaceAll on partitioned tables
    if (table.isSnapshot) return None
    // headState, not tableState: the guard runs on EVERY write, and a
    // streaming sink's 100k-commit history must not be materialized per
    // micro-batch — the fold checkpoint serves ref+fold+schema in
    // O(partitions + tail)
    val st = pinnedState.getOrElse(tracker.headState(table.name))
    val incoming = schemaShape(table, df.schema)
    Option(schemaShapeCache.get(table.name)) match {
      case Some((head, shape)) if head == st.head && shape == incoming =>
        return Some(st.head) // verified at this exact head already
      case _ => ()
    }
    val sample = st.version match {
      case PartitionedTableVersion(pvs) if pvs.nonEmpty =>
        val (p, v) = pvs.minBy(_._1.toPath)
        Some(PartitionedTableVersion(Map(p -> v)))
      case _ => None // empty table: the first write defines the schema
    }
    sample.foreach { sv =>
      // the COMMIT LOG's record (SetTableSchema) is the table's schema
      // whenever the history carries one: schemaOpsFor records exactly the
      // shape the files of each schema-defining commit carry, and on a
      // mergeSchema table the record is the UNION a producer of the current
      // schema writes (a one-partition sample of a mixed-schema table would
      // flag it as drift, depending on which partition sorts first). Only
      // histories that never recorded a schema (adopted / imported /
      // pre-upgrade) read data files: the footer-merge union on mergeSchema
      // tables, the one-partition sample on uniform ones.
      val existing = schemaShape(table,
        VersionedTables.parseSchemaJson(st.schemaJson).getOrElse(
          if (table.mergesSchema) readVersion(table, st.version, None).schema
          else readVersion(table, sv, None).schema))
      // an empty existing shape means the sample was unreadable (e.g. an
      // adopted partition whose files are gone) — nothing trustworthy to
      // compare against, so don't fabricate a drift error (and don't
      // classify it as widening either)
      val widens = allowAdditive && existing.nonEmpty && existing != incoming &&
        existing.forall(incoming.contains)
      if (widens) {
        // ADDITIVE evolution (versionedInsertIntoEvolving): every existing
        // column keeps its name and type, new columns join. The table MUST
        // read with mergeSchema — a multi-version read that samples an OLD
        // file's footer would otherwise silently drop the new columns.
        require(table.mergesSchema,
          s"additive schema evolution on ${table.name} requires the TableDefinition's " +
            "options to include mergeSchema=true: a read across mixed-schema versions " +
            "samples one footer without it and would silently drop the new columns")
      } else if (existing.nonEmpty && existing != incoming)
        throw new IllegalArgumentException(
          s"Schema drift on partial write to ${table.name}: table has " +
            s"${existing.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")} but the dataset has " +
            s"${incoming.map { case (n, t) => s"$n:$t" }.mkString("[", ", ", "]")}. " +
            (if (allowAdditive)
              "Evolution is ADDITIVE only: every existing column must keep its name and " +
                "type (use versionedReplaceAll to rewrite the table under a new shape)."
            else
              "A partial insert under a different schema would leave mixed-schema " +
                "partitions. Align the dataset's columns, use versionedInsertIntoEvolving " +
                "for additive column adds, or versionedReplaceAll to rewrite the whole " +
                "table under the new schema."))
      if (!widens) schemaShapeCache.put(table.name, (st.head, existing))
    }
    Some(st.head)
  }

  /** The recorded schema AS OF commit `id`, as a read-planning hint, for
    * ANY table whose history recorded one ([[TableOperation
    * .SetTableSchema]]); resolved at the COMMIT so time travel keeps
    * showing historical schemas. mergeSchema scans otherwise footer-merge
    * EVERY loaded file at planning time; even uniform-schema tables pay a
    * planning-time schema-inference job without a hint (round 17 —
    * schemaOpsFor records exactly the shape the commit's files carry, so
    * the record equals what inference would return). Histories without a
    * record parse to None and keep the inference path. */
  private[operators] def schemaHintAt(
      table: TableDefinition, st: TableState, id: CommitId): Option[StructType] =
    VersionedTables.parseSchemaJson(st.schemaJsonAt(id))

  /** Materialize a specific table state. `schemaHint` (from
    * [[schemaHintAt]]) replaces planning-time schema inference — the
    * mergeSchema footer-merge over every loaded file — with the schema the
    * commit log recorded; results are identical (evolution is additive and
    * the log is written by every schema-changing commit), only planning
    * I/O shrinks. The hint has no default: a caller passes the record at
    * the state it reads, or None (adopted or unversioned data, a history
    * without a record), which infers the schema from footers. */
  def readVersion(
      table: TableDefinition, version: TableVersion,
      schemaHint: Option[StructType]): DataFrame = version match {
    case SnapshotTableVersion(v) =>
      if (v == Version.Unversioned)
        // pre-adoption sentinel: data (if any) lives unversioned DIRECTLY at
        // the base path. Load the root-level files explicitly — loading the
        // directory would let partition discovery descend into _version=
        // subdirs created by later versioned writes and return future data.
        loadDirectFilesOrEmpty(table, table.location)
      else recordForSkipping({
        val reader = spark.read.format(table.format.name).options(table.options)
        schemaHint.fold(reader)(h => reader.schema(
          StructType(h.filterNot(_.name == Version.VersionColumn).toArray)))
          .load(VersionedTables.uriToLoadPath(VersionPaths.pathFor(table.location, v)))
      }, table, version)
    case PartitionedTableVersion(allPvs) =>
      // deletion-vector versions split out FIRST (zero-I/O label check):
      // their directories hold deletion sidecars, not data — a DV-blind
      // load would silently read them as empty partitions
      val (dvParts, pvs) = allPvs.partition { case (_, v) => Version.isDeleteMarker(v) }
      def withDv(plain: DataFrame): DataFrame =
        if (dvParts.isEmpty) plain
        else {
          val dv = DeleteVectors.readDvPartitions(this, table, dvParts, schemaHint)
          if (pvs.isEmpty) dv
          // an evolved table WITHOUT a recorded schema can resolve the two
          // branches to different column sets (a DV'd old-schema partition
          // footer-merges narrow) — null-fill under the same additive
          // semantics mergeSchema already gives within one scan
          else if (table.mergesSchema) plain.unionByName(dv, allowMissingColumns = true)
          else plain.unionByName(dv)
        }
      if (allPvs.isEmpty) emptyLike(table)
      else if (pvs.isEmpty) withDv(null)
      else if (pvs.valuesIterator.contains(Version.Unversioned))
        // Adopted tables can mix versioned and pre-adoption partitions; their
        // leaf dirs sit at different depths, which partition discovery with a
        // single basePath rejects — fall back to per-partition direct-file
        // reads with partition columns attached as literals. NOTE: on this
        // branch partition columns come back STRING-typed (the core model's
        // untyped partition values); the all-versioned fast path infers types
        // via partition discovery. Null partitions decode to NULL on both.
        withDv(pvs.toList.sortBy(_._1.toPath).map { case (p, v) =>
          val leaf = VersionPaths.pathFor(p.resolvePath(table.location), v)
          // "missing dir -> empty" is only legitimate for the adopted
          // (Unversioned) sentinel; a missing COMMITTED version dir is
          // corruption and must fail loudly, as on the other read paths
          val base =
            if (v == Version.Unversioned) loadDirectFilesOrEmpty(table, leaf)
            else spark.read.format(table.format.name).options(table.options)
              .load(VersionedTables.uriToLoadPath(leaf))
          p.columnValues.foldLeft(base) {
            case (df, cv) =>
              val value = if (cv.value == PathCodec.DefaultPartitionName) lit(null).cast("string")
                          else lit(cv.value)
              df.withColumn(cv.column.name, value)
          }
        }.reduce(_.unionByName(_)))
      else {
        val paths = VersionPaths
          .resolveVersionedPartitionPaths(pvs, table.location)
          .values.map(VersionedTables.uriToLoadPath).toSeq.sorted
        val reader = spark.read.format(table.format.name).options(table.options)
        withDv(recordForSkipping(
          schemaHint.fold(reader)(h =>
            reader.schema(VersionedTables.hintLoadSchema(table, h)))
            .option("basePath", VersionedTables.uriToLoadPath(table.location))
            .load(paths: _*)
            .drop(Version.VersionColumn),
          // record the PLAIN subset: the skipping rule prunes the files of
          // this scan only; DV partitions read through their own anti-join
          table, PartitionedTableVersion(pvs)))
      }
  }

  /** For stats-declaring tables, remember which (table, version) this
    * relation reads so the optimizer-time skipping rule
    * ([[graft.sql.GraftDataSkipping]]) can prune it once a predicate is
    * known — how `SELECT … WHERE …` over the SQL catalog and plain
    * `read().filter(…)` compositions get the same file skipping as
    * [[readWhere]]. No-op (and no analysis forced) for tables without a
    * [[graft.core.ColumnStatsConfig]]. */
  private def recordForSkipping(
      df: DataFrame, table: TableDefinition, version: TableVersion): DataFrame = {
    if (table.stats.isDefined) graft.sql.GraftScanRegistry.record(df, this, table, version)
    df
  }

  /** Load exactly the data files sitting directly in `dir` (no recursion into
    * `_version=`/partition subdirectories). Missing or file-less dir -> empty
    * frame; genuine read errors propagate. */
  private def loadDirectFilesOrEmpty(table: TableDefinition, dir: URI): DataFrame = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      try fs.listStatus(path)
      catch { case _: java.io.FileNotFoundException => return emptyLike(table) }
    val files = listed.filter(_.isFile).map(_.getPath.toString)
      .filterNot(f => { val n = new Path(f).getName; n.startsWith("_") || n.startsWith(".") })
    if (files.isEmpty) emptyLike(table)
    else spark.read.format(table.format.name).options(table.options).load(files.toSeq: _*)
  }

  /** Empty result for a table state with no visible data. Recovers the schema
    * from any previously-written files under the table root (versioned dirs
    * are still on disk — data is never deleted); a never-written table yields
    * a zero-column empty frame.
    *
    * The never-written case is probed with ONE `fs.exists` BEFORE any Spark
    * read: the former shape loaded the missing root and caught the analyzer's
    * PATH_NOT_FOUND — a full AnalysisException (with caller-stacktrace
    * reconstruction) per probe that Spark's ObservationManager listener then
    * re-raised and error-logged on every first write of a session holding
    * observations (the fused write path always does). This sits on the hot
    * write path: every SQL INSERT into a fresh table and every no-match
    * `readPartitions` lands here. */
  private def emptyLike(table: TableDefinition): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(table.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema: StructType =
      if (!fs.exists(root)) new StructType()
      else
        try {
          val df = spark.read.format(table.format.name).options(table.options)
            .option("basePath", VersionedTables.uriToLoadPath(table.location))
            .load(VersionedTables.uriToLoadPath(table.location))
          StructType(df.schema.filterNot(_.name == Version.VersionColumn))
        } catch { case _: Exception => new StructType() }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }
}

object VersionedTables {

  /** Outcome of a [[VersionedTables.vacuum]] run: what would be / was
    * deleted, and any per-directory delete failures (path -> reason). */
  final case class VacuumResult(targets: List[URI], deleted: List[URI], failed: List[(URI, String)])

  /** Arrange a recorded schema hint into the exact shape a hint-less
    * partitioned scan would produce — data columns first (hint order), then
    * partition columns in schema order — so hinted and inferred reads of
    * the same version are column-for-column identical. `_version` rides
    * along for partition discovery and is dropped by the caller. */
  private[operators] def hintLoadSchema(
      table: TableDefinition, hint: StructType): StructType = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val partColsLower = table.partitionSchema.columnNames.map(_.toLowerCase).toSet
    val dataFields = hint.fields.filterNot(f => partColsLower(f.name.toLowerCase))
    if (!table.mergesSchema)
      // Uniform tables (round 17): hint the DATA columns only — that alone
      // skips the planning-time footer schema inference (the point of the
      // hint) — and let partition DISCOVERY append the partition columns
      // (and `_version`) with its own inferred types, exactly as the
      // hint-less read did. Pinning partition types from the record would
      // CHANGE the read schema wherever the written partition-column type
      // disagrees with directory inference (a string `day` column whose
      // values look like dates reads back DATE via discovery) — the
      // uniform-table laws pin the discovery typing.
      StructType(dataFields)
    else {
      // mergeSchema tables keep the full pinned shape (established
      // semantics): their partition types must follow the record so mixed
      // slices resolve one way.
      val partFields = table.partitionSchema.columnNames.map { c =>
        hint.fields.find(_.name.equalsIgnoreCase(c))
          .getOrElse(StructField(c, StringType, nullable = true))
      }
      StructType((dataFields ++ partFields) :+
        StructField(Version.VersionColumn, StringType, nullable = true))
    }
  }

  /** Parse a recorded [[graft.core.TableOperation.SetTableSchema]] document
    * back into a StructType. None on absent or unparseable input — a corrupt
    * document degrades to footer reads, it never bricks a table. */
  private[graft] def parseSchemaJson(json: Option[String]): Option[StructType] =
    json.flatMap(j =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)).toOption.collect {
        case s: StructType => s
      })

  /** The [[graft.core.TableOperation.SetTableSchema]] op a commit writing
    * `written` should carry: one op when the written shape differs from the
    * last recorded schema at the pinned state (or none was ever recorded),
    * empty otherwise — so the log records exactly the schema-DEFINING
    * commits (first write, additive evolution, replace-all reshape) and
    * stays quiet on the steady-state write path. Self-describing formats
    * only: csv/json round-trip through lossy inference, and a recorded
    * schema that disagrees with what a reader infers would be a lie.
    *
    * The one shape a PARTIAL write must never record: an evolved
    * (mergeSchema) table whose history carries NO recorded schema — the
    * written frame there can be a SLICE union (a DML rewrite of
    * pre-evolution partitions), and recording it would make later
    * log-resolved reads silently drop the evolved columns of untouched
    * partitions. Such histories stay footer-resolved until a whole-table
    * write (`definesWholeTable` — replace-all, or any snapshot version,
    * which is self-contained by construction) or a first write defines the
    * full shape. */
  private[operators] def schemaOpsFor(
      table: TableDefinition, st: TableState,
      written: StructType,
      definesWholeTable: Boolean = false): List[TableOperation] =
    schemaOpsFor(table, st.currentSchemaJson, st.currentTableVersion, written, definesWholeTable)

  /** [[schemaOpsFor]] from the RESOLVED pieces alone — what the hot write
    * path passes from [[graft.core.HeadState]] so a streaming sink never
    * materializes its history to decide whether to record a schema. */
  private[operators] def schemaOpsFor(
      table: TableDefinition, recordedJson: Option[String], current: TableVersion,
      written: StructType,
      definesWholeTable: Boolean): List[TableOperation] =
    if (table.format != FileFormat.Parquet && table.format != FileFormat.Orc) Nil
    else {
      def shape(s: StructType): Set[(String, String)] =
        s.fields.iterator.filterNot(_.name == Version.VersionColumn)
          .map(f => (f.name.toLowerCase, f.dataType.catalogString)).toSet
      val clean = StructType(written.filterNot(_.name == Version.VersionColumn).toArray)
      val recorded = parseSchemaJson(recordedJson)
      val firstWrite = current match {
        case PartitionedTableVersion(pvs) => pvs.isEmpty
        case SnapshotTableVersion(v)      => v == Version.Unversioned
      }
      if (recorded.exists(r => shape(r) == shape(clean))) Nil
      else if (table.mergesSchema && recorded.isEmpty && !definesWholeTable && !firstWrite) Nil
      // a PARTIAL write may only move the record FORWARD (additive
      // superset): a merge/DML whose pruned slice carries a subset of an
      // evolved table's union must not regress the recorded schema
      else if (!definesWholeTable && !firstWrite &&
          recorded.exists(r => !shape(r).subsetOf(shape(clean)))) Nil
      // the FIRST data write under an already-recorded schema (CREATE →
      // ALTER ADD COLUMNS → INSERT) must never NARROW the record: declared
      // columns the write omitted stay (null-filled by mergeSchema reads);
      // columns the write adds append AT THEIR WRITTEN TYPES (the record
      // never lies about what's in the files). A replace-all
      // (definesWholeTable) keeps its right to reshape.
      else if (firstWrite && !definesWholeTable && recorded.isDefined) {
        val r = recorded.get
        if (shape(clean).subsetOf(shape(r))) Nil
        else {
          val writtenNames = clean.fieldNames.map(_.toLowerCase).toSet
          val keptDeclared = r.fields.filterNot(f => writtenNames(f.name.toLowerCase))
          List(TableOperation.SetTableSchema(
            StructType(clean.fields ++ keptDeclared).json))
        }
      }
      else List(TableOperation.SetTableSchema(clean.json))
    }

  /** Render a (properly-encoded) URI as the string Spark's readers and
    * Hadoop's `Path(String)` expect: the DECODED form. `Path(String)` treats
    * its input as unencoded (it percent-quotes any `%` it sees), so passing
    * `URI.toString` of an encoded URI would double-encode and miss the
    * on-disk directory. */
  private[graft] def uriToLoadPath(uri: URI): String =
    new org.apache.hadoop.fs.Path(uri).toString

  /** `_staging/<label>.json` under the table location: the staged
    * operation list every stage records (commit-file wire format,
    * [[graft.sources.JsonCodecs]]), so a later process — the CLI `audit` /
    * `publish` verbs — can re-attach with the EXACT ops, replace-all
    * removes included. The underscore prefix keeps Spark's readers from
    * ever listing it as data. Deleted on publish; an abandoned stage's
    * manifest is reclaimed alongside its version dirs by
    * `vacuum(includeOrphans = true)`. */
  private[graft] def stagingManifestPath(location: URI, label: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(location),
      s"_staging/$label.json")

  private[graft] def writeStagingManifest(
      conf: org.apache.hadoop.conf.Configuration,
      location: URI, label: String, update: TableUpdate): Unit = {
    val p = stagingManifestPath(location, label)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(graft.sources.JsonCodecs.toJson(update).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readStagingManifest(
      conf: org.apache.hadoop.conf.Configuration,
      location: URI, label: String): Option[TableUpdate] = {
    val p = stagingManifestPath(location, label)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try {
        val baos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, baos, 8192, false)
        baos.toString("UTF-8")
      } finally in.close()
      graft.sources.JsonCodecs.fromJson(json).toOption
    }
  }

  private[graft] def deleteStagingManifest(
      conf: org.apache.hadoop.conf.Configuration,
      location: URI, label: String): Unit = {
    val p = stagingManifestPath(location, label)
    val fs = p.getFileSystem(conf)
    try { fs.delete(p, false); () } catch { case _: java.io.IOException => () }
  }

  /** Extract the distinct partition tuples present in a dataset
    * (reference SparkSupport.scala:109-128): projection + hash-distinct +
    * driver collect — the collected set is small (one row per partition).
    * Null AND empty-string values both land in the writer's
    * `__HIVE_DEFAULT_PARTITION__` directory (Spark's
    * `ExternalCatalogUtils.getPartitionPathString`), so both map to the
    * sentinel here — otherwise the commit would reference `col=` paths that
    * are never created. */
  def partitionValues[T](ds: Dataset[T], schema: PartitionSchema): List[Partition] = {
    if (schema.isSnapshot) Nil
    else {
      val cols = schema.columnNames
      ds.toDF().selectExpr(cols: _*).distinct().collect().toList
        .map(partitionOf(_, cols))
        .distinct // null and "" collapse into the same default-partition dir
    }
  }

  /** The partition the first `cols.size` fields of `row` name, under
    * [[partitionValues]]' null/empty-string rule. */
  private[operators] def partitionOf(row: Row, cols: Seq[String]): Partition =
    Partition(cols.zipWithIndex.map { case (c, i) =>
      val v = Option(row.get(i)).map(_.toString).filter(_.nonEmpty)
      ColumnValue(PartitionColumn(c), v.getOrElse(PathCodec.DefaultPartitionName))
    }.toList)

  /**
   * A staged (written but UNCOMMITTED) insert: the data files exist under
   * a fresh version directory that no commit references, so every reader
   * still sees the pre-stage table. [[staged]] reads exactly the staged
   * files (committed data excluded) — the audit surface of
   * write-audit-publish. Publishing stamps the commit time at PUBLISH, not
   * stage. An abandoned stage needs no cleanup call: its directories are
   * orphan debris, listed by [[VersionedTables.orphanedVersions]] and
   * reclaimed by `vacuum(includeOrphans = true)` — the identical lifecycle
   * as a failed CAS write. A plain vacuum deliberately spares orphans,
   * which is what protects an in-flight stage a writer is about to
   * publish.
   */
  final case class StagedWrite private[operators] (
      private val engine: VersionedTables,
      table: TableDefinition,
      userId: UserId,
      message: String,
      version: Version,
      private val ops: List[TableOperation],
      private val schema: org.apache.spark.sql.types.StructType,
      private val manifested: Boolean = false) {

    /** Partitions this stage wrote (empty for a snapshot table). */
    def partitions: List[Partition] =
      ops.collect { case TableOperation.AddPartitionVersion(p, _) => p }

    // group-publish plumbing ([[VersionedTables.publishAtomically]])
    private[operators] def engineRef: VersionedTables = engine
    private[operators] def stagedOps: List[TableOperation] = ops
    private[operators] def stagedSchema: org.apache.spark.sql.types.StructType = schema
    private[operators] def cleanupManifest(): Unit =
      if (manifested)
        VersionedTables.deleteStagingManifest(
          engine.spark.sparkContext.hadoopConfiguration, table.location, version.label)

    /** Read of EXACTLY the staged version's files. On mergeSchema tables
      * the stage's own schema doubles as the planning hint — the staged
      * files carry exactly it, so no footer merge is needed. */
    def staged: DataFrame = {
      val tv: TableVersion =
        if (table.isSnapshot) SnapshotTableVersion(version)
        else PartitionedTableVersion(ops.collect {
          case TableOperation.AddPartitionVersion(p, v) => p -> v
        }.toMap)
      engine.readVersion(table, tv, if (table.mergesSchema) Some(schema) else None)
    }

    /** The table as it WOULD read after [[publish]]: this stage's
      * partition versions (and removes, for a replace-all stage) overlaid
      * on the head's untouched partitions; for a snapshot table the stage
      * replaces everything, so this equals [[staged]]. Table-wide audits
      * (cross-delivery Unique/RefIntegrity) run against THIS view where
      * [[staged]] is delivery-scoped. The head is read at CALL time — under
      * racing writers pair the audit with [[publishIf]] so a head moved
      * after the audit fails the commit rather than publishing unaudited
      * overlap. */
    def wouldBeVisible: DataFrame =
      if (table.isSnapshot) staged
      else {
        val headPvs = engine.tracker.currentVersion(table.name) match {
          case PartitionedTableVersion(pvs) => pvs
          case _: SnapshotTableVersion      => Map.empty[Partition, Version]
        }
        val adds = ops.collect { case TableOperation.AddPartitionVersion(p, v) => p -> v }.toMap
        val removes = ops.collect { case TableOperation.RemovePartition(p) => p }.toSet
        // the staged schema is the table's union after this stage (the drift
        // guard pinned incoming ⊇ existing), so it is the valid hint for the
        // overlaid head partitions too
        engine.readVersion(table, PartitionedTableVersion(headPvs -- removes ++ adds),
          if (table.mergesSchema) Some(schema) else None)
      }

    /** The frame an audit of the given scope runs against — the ONE place
      * the scope→view mapping lives, shared by `auditedInsertInto` and the
      * streaming sink's per-micro-batch audit. */
    def auditView(scope: Expectations.AuditScope): DataFrame = scope match {
      case Expectations.AuditScope.Delivery  => staged
      case Expectations.AuditScope.TableWide => wouldBeVisible
    }

    /** Commit the staged version — it becomes the table head atomically. */
    def publish(): (TableVersion, TableChanges) = commit(None)

    /** [[publish]] with optimistic concurrency: lands only if the head
      * still equals `expectedHead` (see `versionedInsertIntoIf`). */
    def publishIf(expectedHead: CommitId): (TableVersion, TableChanges) =
      commit(Some(expectedHead))

    private def commit(expectedHead: Option[CommitId]): (TableVersion, TableChanges) = {
      val update = TableUpdate(userId, message, java.time.Instant.now(), ops)
      val result = expectedHead match {
        case Some(h) => engine.versioned.commitIf(table.name, update, h)
        case None    => engine.versioned.commit(table.name, update)
      }
      // this write defines the table's schema as of the new head — repeat
      // writers skip the next guard's sample read
      engine.noteSchemaAt(table, update.metadata.id, schema)
      // the staging manifest has served its purpose (best-effort; a crash
      // here leaves it behind, where findStaged's committed-label guard
      // still refuses a double publish and vacuum reclaims the file)
      if (manifested)
        VersionedTables.deleteStagingManifest(
          engine.spark.sparkContext.hadoopConfiguration, table.location, version.label)
      result
    }
  }

  /** Syntax: `ds.versionedInsertInto(engine, table, userId, message)`. */
  implicit final class DatasetVersionedOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** Overwrite-by-partition insert (reference SparkSupport.scala:51-104):
      * every partition present in `ds` gets a NEW immutable version directory;
      * absent partitions are untouched; then the commit makes it visible.
      * Readers never see in-flight data — new `_version` dirs are unreferenced
      * until the commit lands.
      *
      * File layout ([[VersionedTables.writeDataVersioned]]): a `ds` whose
      * analyzed size estimate is at most
      * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
      * default) is written by one task — one file per touched partition.
      * A `ds` that ends in an explicit
      * `repartition`/`coalesce`/`repartitionByRange`/`REBALANCE`, whose
      * estimate can undercount (`explode`, typed object operators,
      * Python/Arrow functions) or would cost a scan plan (a DataSource V2
      * input), or that is larger, keeps one file per input slice and
      * partition.
      *
      * The schema-drift guard on this UNGUARDED variant is read-then-act: it
      * verifies against the head at guard time, so an insert racing a
      * concurrent schema-changing [[versionedReplaceAll]] can still commit
      * mixed-schema partitions. The no-mixed-schema guarantee holds for
      * single-writer tables; under concurrent replaceAll writers use
      * [[versionedInsertIntoIf]], whose CAS fails the commit if the head
      * moved after the schema was verified. */
    def versionedInsertInto(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String): (TableVersion, TableChanges) =
      versionedInsertInto(engine, table, userId, message, Nil)

    /** As above, with rows additionally sorted on `clusterBy` within each
      * output file (tight Parquet min/max stats on those columns). The sort
      * runs task-local with the partition columns as prefix, which satisfies
      * the file writer's required ordering — so Spark does NOT insert its own
      * (unstable, cluster-destroying) partition sort on top. */
    def versionedInsertInto(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String]): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = false)

    /** [[versionedInsertInto]] with ADDITIVE schema evolution: the dataset
      * may carry NEW columns — every existing column must keep its exact
      * name and type (widening or renames refuse; rewrite via
      * [[versionedReplaceAll]] for those). Requires the TableDefinition's
      * options to include `mergeSchema=true`, because after the first
      * evolving commit the table's versions hold MIXED file schemas: a
      * multi-version read must merge footers or it could sample an old
      * file and silently drop the new columns. Old rows read NULL in the
      * new columns; time travel to pre-evolution commits shows the old
      * schema — history stays honest. */
    def versionedInsertIntoEvolving(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = false,
        allowAdditive = true)

    /** [[versionedInsertIntoEvolving]] with the CAS guard of
      * [[versionedInsertIntoIf]] — the form concurrent writers should use:
      * the schema is verified against the head the commit CASes on. */
    def versionedInsertIntoEvolvingIf(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        expectedHead: CommitId,
        clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = false,
        Some(expectedHead), allowAdditive = true)

    /** INSERT-OVERWRITE-TABLE semantics for partitioned tables: one atomic
      * commit that adds every partition present in `ds` AND removes every
      * current partition absent from it — the table's visible content becomes
      * exactly `ds`. (Plain `versionedInsertInto` leaves absent partitions
      * untouched.) Removed partitions' data stays on disk for time travel. */
    def versionedReplaceAll(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = true)

    /** [[versionedInsertInto]] with optimistic concurrency: the commit lands
      * only if the table head still equals `expectedHead` — the head this
      * writer's read-modify-write cycle was based on. A moved head raises
      * [[graft.core.CommitConflictError]]; the already-written version
      * directories are then unreferenced debris, visible to
      * [[VersionedTables.orphanedVersions]] and reclaimable by vacuum —
      * readers never saw them (data before commit is invisible by design). */
    def versionedInsertIntoIf(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        expectedHead: CommitId,
        clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = false, Some(expectedHead))

    /** [[versionedReplaceAll]] with the same optimistic-concurrency contract
      * as [[versionedInsertIntoIf]] — additionally the right default for
      * replace-all pipelines, whose remove set is DERIVED from the head read:
      * a concurrent commit would silently survive a non-CAS replace-all. */
    def versionedReplaceAllIf(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        expectedHead: CommitId,
        clusterBy: Seq[String] = Nil): (TableVersion, TableChanges) =
      write(engine, table, userId, message, clusterBy, replaceAll = true, Some(expectedHead))

    /**
     * WRITE-AUDIT-PUBLISH, stage step: write `ds`'s data files under a
     * fresh version directory WITHOUT committing — no reader can see them
     * (data before commit is invisible by design), but [[StagedWrite.staged]]
     * reads exactly the staged files so checks can run against what WOULD
     * become visible. Publish with [[StagedWrite.publish]]/`publishIf`;
     * abandoning costs nothing — the directories are orphan debris that
     * [[VersionedTables.orphanedVersions]] lists and vacuum reclaims, the
     * same mechanism that already covers failed CAS writes.
     */
    /** `manifest = false` is for SAME-CALL stage-audit-publish wrappers
      * ([[auditedInsertInto]], the streaming WAP sink): they never re-attach
      * from another process, so the manifest would be two wasted FS
      * round-trips (write + publish-time delete) per delivery on a hot
      * path. Cross-process staging keeps the default. */
    def stageInsertInto(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil,
        manifest: Boolean = true): StagedWrite =
      stage(engine, table, userId, message, clusterBy, replaceAll = false, None,
        writeManifest = manifest)

    /** [[stageInsertInto]] with replace-all publish semantics (the removes
      * are computed against the head AT STAGE TIME — use `publishIf` when
      * other writers may race). */
    def stageReplaceAll(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String] = Nil): StagedWrite =
      stage(engine, table, userId, message, clusterBy, replaceAll = true, None, writeManifest = true)

    /**
     * The one-call write-audit-publish insert: stage, run the
     * [[Expectations]] checks, and publish only if every check passes —
     * otherwise throw [[Expectations.ExpectationsFailedError]] with the
     * full report, leaving the table's visible state untouched (the staged
     * files are vacuum-reclaimable debris). Readers can never observe a
     * delivery that failed its audit.
     *
     * `scope` picks what the checks see. The default
     * [[Expectations.AuditScope.Delivery]] audits the STAGED slice only —
     * row-local checks are complete there, but Unique/RefIntegrity are
     * DELIVERY-SCOPED: a key already published by an earlier delivery and
     * re-inserted now passes. [[Expectations.AuditScope.TableWide]] audits
     * [[StagedWrite.wouldBeVisible]] (staged partitions overlaid on the
     * untouched committed ones) so cross-delivery duplicates and orphans
     * ARE caught, at the cost of scanning committed partitions too.
     */
    def auditedInsertInto(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        checks: Seq[Expectations.Check],
        clusterBy: Seq[String] = Nil,
        scope: Expectations.AuditScope = Expectations.AuditScope.Delivery): (TableVersion, TableChanges) = {
      val staged = stageInsertInto(engine, table, userId, message, clusterBy, manifest = false)
      val results = Expectations.audit(staged.auditView(scope), checks)
      if (results.forall(_.ok)) staged.publish()
      else throw Expectations.ExpectationsFailedError(results)
    }

    private def write(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String],
        replaceAll: Boolean,
        expectedHead: Option[CommitId] = None,
        allowAdditive: Boolean = false): (TableVersion, TableChanges) = {
      val staged = stage(engine, table, userId, message, clusterBy, replaceAll, expectedHead,
        allowAdditive = allowAdditive)
      expectedHead match {
        case Some(h) => staged.publishIf(h)
        case None    => staged.publish()
      }
    }

    private def stage(
        engine: VersionedTables,
        table: TableDefinition,
        userId: UserId,
        message: String,
        clusterBy: Seq[String],
        replaceAll: Boolean,
        expectedHead: Option[CommitId],
        writeManifest: Boolean = false,
        allowAdditive: Boolean = false): StagedWrite = {
      checkSparkConfigs(ds.sparkSession)
      // one pinned HEAD state serves the schema guard, the replace-all
      // remove set, and the schema-record decision — resolved from the fold
      // checkpoint + tail, so a streaming sink's per-micro-batch write cost
      // never grows with its commit count
      val pinned = engine.tracker.headState(table.name)
      // replace-all rewrites the whole visible table, so it is ALLOWED to
      // change the schema; a partial insert is not (mixed-schema partitions)
      if (!replaceAll) {
        val verifiedAt = engine.requireCompatibleSchema(table, ds.toDF(), allowAdditive,
          pinnedState = Some(pinned))
        // CAS'd insert whose expected head ALREADY diverges from the head the
        // schema was verified at: the commitIf below would fail anyway — fail
        // fast here, before paying the full data write
        for (h <- expectedHead; v <- verifiedAt; if v != h)
          throw CommitConflictError(table.name, h, v)
      }
      // record the schema when this commit DEFINES it (first write,
      // evolution, replace-all reshape) — what lets evolved-table reads and
      // guards resolve schemas from the log instead of data-file footers
      val schemaOps = VersionedTables.schemaOpsFor(
        table, pinned.schemaJson, pinned.version, ds.toDF().schema,
        definesWholeTable = replaceAll || table.isSnapshot)
      val version = Version.generate()
      val ops: List[TableOperation] =
        if (table.isSnapshot) {
          // the emptiness guard runs AFTER the write (see below): a 0-row
          // write creates NO _version= directory (partitionBy append writes
          // nothing), so the commit would reference a directory that never
          // exists. Checking the written directory instead of ds.isEmpty
          // avoids a second evaluation of the (possibly expensive) plan and
          // stays correct for nondeterministic sources, where a non-empty
          // pre-check and an empty write can genuinely disagree.
          writeWithVersion(table, version, clusterBy)
          schemaOps :+ TableOperation.AddTableVersion(version)
        } else {
          // fused write: the distinct partition values are observed DURING
          // the write job, so the input plan is evaluated once — the former
          // partitionValues-then-write pair evaluated it twice. A 0-row
          // input writes nothing and still fails the guard below, with no
          // commit — identical outcome to the former pre-write check.
          val parts = VersionedTables.writeDataVersionedObserved(
            ds.toDF(), table, version, clusterBy)
          require(parts.nonEmpty,
            s"Dataset has no rows for partition columns ${table.partitionSchema.columnNames}")
          val adds = parts.map(TableOperation.AddPartitionVersion(_, version))
          val removes =
            if (!replaceAll) Nil
            else pinned.version match {
              case PartitionedTableVersion(pvs) =>
                val kept = parts.toSet
                pvs.keysIterator.filterNot(kept).toList.sortBy(_.toPath)
                  .map(TableOperation.RemovePartition(_))
              case _: SnapshotTableVersion => Nil
            }
          schemaOps ++ adds ++ removes
        }
      if (table.isSnapshot) {
        // loud failure BEFORE the commit lands: an empty write left no
        // _version= directory, and committing AddTableVersion anyway would
        // make every later read of the table fail on the missing dir. One
        // fs.exists probe — no re-evaluation of the input plan.
        val versionDir = new org.apache.hadoop.fs.Path(VersionPaths.pathFor(table.location, version))
        val fs = versionDir.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
        require(fs.exists(versionDir),
          s"Dataset has no rows: a snapshot write must carry at least one row " +
            s"(the write to ${table.name} produced no $versionDir, and committing " +
            "a version with no data directory would break every later read)")
      }
      // commit-time file/column statistics (data-skipping manifest): one
      // column-pruned pass over the files just written, persisted BEFORE the
      // commit so a committed version either has its full manifest or none
      // (see TableStats). Loud on failure — the stage aborts pre-commit and
      // the written dirs are ordinary vacuum-reclaimable debris.
      if (table.stats.nonEmpty)
        TableStats.collectAndWrite(ds.sparkSession, table, version,
          ops.collect { case TableOperation.AddPartitionVersion(p, _) => p },
          Some(ds.toDF().schema))
      // record the exact staged ops (replace-all removes included) so a
      // LATER process can re-attach faithfully — see findStaged. Only the
      // EXPLICIT stage entry points pay this: the insert/replaceAll paths
      // publish in the same call, so a manifest would be two wasted FS
      // round-trips per write on their hot path.
      if (writeManifest)
        VersionedTables.writeStagingManifest(
          ds.sparkSession.sparkContext.hadoopConfiguration, table.location, version.label,
          TableUpdate(userId, message, java.time.Instant.now(), ops))
      StagedWrite(engine, table, userId, message, version, ops, ds.toDF().schema,
        manifested = writeManifest)
    }

    /** The reference's asserted precondition (SparkSupport.scala:60-69). With
      * Append-to-fresh-version-dirs collisions can't happen anyway, but the
      * assert is kept for semantic fidelity. */
    private def checkSparkConfigs(spark: SparkSession): Unit = {
      val mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      require(mode.equalsIgnoreCase("dynamic"),
        s"spark.sql.sources.partitionOverwriteMode must be 'dynamic', was '$mode'")
    }

    private def writeWithVersion(
        table: TableDefinition, version: Version, clusterBy: Seq[String] = Nil): Unit =
      VersionedTables.writeDataVersioned(ds.toDF(), table, version, clusterBy)
  }

  /** [[writeDataVersioned]] fused with partition-value discovery: the
    * distinct partition values are observed DURING the write job
    * (`Dataset.observe` / CollectMetrics — a map-side `collect_set` over the
    * partition columns, merged on the driver), so the input plan is
    * evaluated ONCE. The former shape — a `partitionValues` action (full
    * plan evaluation + exchange) followed by the write (second full
    * evaluation), or a `persist` bridging the two — paid either 2× the
    * input compute or a full materialization per versioned write; at scale
    * that is the single largest avoidable cost of the write path
    * (optimization guide §1.2: remove passes before tuning anything else).
    * Returns exactly what [[partitionValues]] would have: the written
    * partitions, null/"" collapsed into the default-partition name. */
  private[operators] def writeDataVersionedObserved(
      df: DataFrame, table: TableDefinition, version: Version,
      clusterBy: Seq[String] = Nil): List[Partition] = {
    val cols = table.partitionSchema.columnNames
    if (cols.isEmpty) { writeDataVersioned(df, table, version, clusterBy); Nil }
    else {
      import org.apache.spark.sql.functions.{col, collect_set, struct}
      val obs = org.apache.spark.sql.Observation(s"graft_parts_${version.label}")
      val observed = df.observe(obs,
        collect_set(struct(cols.map(c => col(s"`$c`")): _*)).as("parts"))
      writeDataVersioned(observed, table, version, clusterBy)
      val rows = obs.get("parts").asInstanceOf[scala.collection.Seq[Row]]
      rows.map { row =>
        Partition(cols.zipWithIndex.map { case (c, i) =>
          val v = Option(row.get(i)).map(_.toString).filter(_.nonEmpty)
          ColumnValue(PartitionColumn(c), v.getOrElse(PathCodec.DefaultPartitionName))
        })
      }.toList.distinct // null and "" collapse into the same default-partition dir
    }
  }

  /** Physically write `df` under `_version=<label>` directories via Spark's
    * dynamic partitioning — the one shared data writer behind every
    * insert/replace/stage/merge/DML/fold entry point (zero custom I/O; the
    * version column rides `partitionBy`).
    *
    * Layout rule: a SMALL input runs as ONE write task, so each partition
    * it touches gets one data file. Small means the size estimate of the
    * plan `df` has already analyzed is at most Spark's
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
    * default) — the smallest partition AQE's coalescing leaves, so a
    * shuffle of this size would be one partition too; the input is then
    * coalesced to one partition — no shuffle, no extra job, no optimizer
    * pass. The cost of a small versioned write is per task and per file,
    * not per row: every task ships the session's Hadoop configuration and
    * every file written is a file each later read opens. Past a few MB the
    * lost parallelism costs more wall time than the tasks save (8 MB
    * inputs wrote ~50% slower as one task on 4 cores), so the cutoff is
    * the 1 MB floor, not the 64 MB advisory size. The input keeps its own
    * layout when
    *   - the caller fixed it: an explicit `repartition`, `coalesce`,
    *     `repartitionByRange` or `REBALANCE` at the top of the plan (only
    *     projections, filters, observations and local sorts above it) —
    *     `compact(filesPerPartition = F)` and [[VersionedTables
    *     .foldDeleteVectors]] rely on this;
    *   - the estimate can undercount the output: the plan holds a
    *     `Generate` (`explode`), a typed object operator (`map`,
    *     `flatMap`, `mapPartitions`, …) or a Python/Arrow function;
    *   - its estimate is not free: a leaf other than a file relation, a
    *     local relation, an RDD or a range (a DataSource V2 relation
    *     estimates itself by building a scan before any pushdown).
    * Large inputs keep one file per input slice and partition, as before.
    * The coalesce also runs the input's last stage in that one task: a
    * small input whose last stage is compute-heavy (e.g. a costly UDF
    * over a small scan) keeps its parallelism with an explicit
    * `repartition`.
    *
    * No `_SUCCESS` marker is written at the table root: a staged or
    * CAS-refused write would leave the same marker, so it says nothing
    * about committed data — the commit is the success marker. */
  private[operators] def writeDataVersioned(
      df: DataFrame, table: TableDefinition, version: Version,
      clusterBy: Seq[String] = Nil): Unit = {
    val partCols = table.partitionSchema.columnNames :+ Version.VersionColumn
    val versioned = df.withColumn(Version.VersionColumn, lit(version.label))
    val packed = if (writesAsOneTask(df)) versioned.coalesce(1) else versioned
    val arranged =
      if (clusterBy.isEmpty) packed
      else packed.sortWithinPartitions(
        (partCols ++ clusterBy).map(org.apache.spark.sql.functions.col): _*)
    arranged.write
      .partitionBy(partCols: _*)
      .mode(SaveMode.Append)
      .format(table.format.name)
      .options(table.options)
      .options(NoSuccessMarker)
      .save(VersionedTables.uriToLoadPath(table.location))
  }

  /** Hadoop's `FileOutputCommitter` switch for the `_SUCCESS` file, as a
    * write option (the writer copies its options into the job's Hadoop
    * configuration). */
  private[operators] val NoSuccessMarker =
    Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The layout rule of [[writeDataVersioned]]: true when `df` should be
    * written by one task. Reads only the already-analyzed plan, and asks
    * it for statistics only when every leaf estimates itself for free. */
  private[operators] def writesAsOneTask(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.PythonFuncExpression
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    @annotation.tailrec
    def callerFixedLayout(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation | _: RebalancePartitions => true
      case u @ (_: Project | _: Filter | _: CollectMetrics | _: SubqueryAlias) =>
        callerFixedLayout(u.children.head)
      case s: Sort if !s.global => callerFixedLayout(s.child)
      case _ => false
    }
    def mayUndercount(p: LogicalPlan): Boolean = p.exists {
      case _: Generate | _: ObjectProducer | _: ObjectConsumer => true
      case n => n.expressions.exists(_.exists(_.isInstanceOf[PythonFuncExpression]))
    }
    def freeStats(p: LogicalPlan): Boolean = p.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation |
           _: LocalRelation | _: org.apache.spark.sql.execution.LogicalRDD |
           _: Range | _: OneRowRelation => true
      case _ => false
    }
    !callerFixedLayout(plan) && !mayUndercount(plan) && freeStats(plan) &&
      plan.stats.sizeInBytes <= org.apache.spark.sql.GraftSqlBridge.sqlConf(df.sparkSession)
        .getConf(org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  /** Convenience constructor: engine with a file-backed commit log stored
    * under `storeRoot` (same filesystem family as the data — file/hdfs/s3a). */
  def withFileStore(spark: SparkSession, storeRoot: URI): VersionedTables = {
    val conf = spark.sparkContext.hadoopConfiguration
    new VersionedTables(spark, new graft.sources.FileBackedVersionTracker(storeRoot, conf))
  }
}
