package graft.sources

import graft.core._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import java.net.URI
import java.nio.charset.StandardCharsets
import java.time.Instant

/**
 * Commit log persisted as JSON files on a Hadoop `FileSystem` — works on
 * `file://`, `hdfs://` and `s3a://` alike, which is what makes the version
 * store usable next to 100 TB of lake data.
 *
 * Layout mirrors the reference
 * (`files/src/main/scala/dev/chronicles/files/versiontracker/FileBackedVersionTracker.scala:140-176`):
 * {{{
 *   <root>/_graft_table_<schema>.<table>/
 *     table-metadata.json              // {"isSnapshot": …}
 *     head.json                        // current ref (commit id)
 *     table_update_<sortable-ts>.json  // one file per commit
 *     state_checkpoint_<ts>.json       // periodic folded-history snapshot
 * }}}
 * Commit files are named with a strictly-monotonic timestamp so lexicographic
 * name order == commit order (the history-ordering law; reference sorts by
 * (mtime, name), we make the name alone sufficient within a process). Commit
 * files are only ever CREATED, via temp-file + rename, so a reader can never
 * observe a partially-written commit document.
 *
 * Concurrency: within one JVM, commits to the same table serialize on a
 * per-table-directory lock. ACROSS processes, writers serialize on an
 * exclusive-create `commit.lock` file in the table directory (O_EXCL via NIO
 * on `file://`, atomic `create(overwrite=false)` on HDFS; stale locks are
 * broken after a TTL so a crashed writer can't wedge the table). Cross-process
 * commit ORDER additionally relies on roughly-synchronized clocks for the
 * commit-file names — the same assumption as the reference's mtime sort
 * (`FileBackedVersionTracker.scala:98`); the JDBC tracker is the
 * strict-serializable-isolation option.
 *
 * Every `checkpointInterval` commits the writer folds the full history into a
 * `state_checkpoint_*.json` document, so `tableState` reads one checkpoint +
 * the commit tail instead of O(#commits) files — the difference between
 * milliseconds and minutes for a streaming sink at 100k micro-batch commits.
 *
 * Interop: table directories written by the reference implementation
 * (`_chronicles_table_<schema>.<table>/` with `table-metadata`, `head_ref`,
 * suffix-less `table_update_*` files in the chronicles wire format) are
 * readable in place — `tables`/`tableState`/`isSnapshotTable` work unchanged;
 * writes to such tables are refused with a pointer at
 * [[migrateChroniclesTables]], which re-encodes them into graft-v2 layout.
 */
final class FileBackedVersionTracker(
    rootUri: URI,
    hadoopConf: Configuration = new Configuration(),
    checkpointInterval: Int = FileBackedVersionTracker.DefaultCheckpointInterval)
    extends VersionTracker with GroupCommitTracker {

  /** Multi-table atomic commit group (two-phase over the per-table locks,
    * [[graft.core.GroupCommitTracker]]): every table's in-process monitor
    * AND cross-process `commit.lock` are acquired in ONE global order —
    * sorted by fully-qualified table name — so two racing groups can never
    * deadlock and never interleave (the second group blocks on the first
    * table both touch, then sees the new heads and CAS-fails). Phase 1
    * verifies every expected head under all the locks; phase 2 appends all
    * commit files, then moves all heads. Crash-isolation caveat on the
    * trait. */
  override def commitGroup(commits: List[(TableName, TableUpdate, CommitId)]): Unit = {
    require(commits.nonEmpty, "commitGroup needs at least one commit")
    require(commits.map(_._1).distinct.size == commits.size,
      "commitGroup: tables must be distinct")
    val sorted = commits.sortBy(_._1.fullyQualifiedName)
    val dirs = sorted.map { case (t, _, _) => existingWritableTableDir(t) }
    def withAllLocks[A](ds: List[Path])(body: => A): A = ds match {
      case Nil => body
      case d :: rest =>
        FileBackedVersionTracker.tableLock(d).synchronized {
          withProcessLock(d) { withAllLocks(rest)(body) }
        }
    }
    withAllLocks(dirs) {
      sorted.zip(dirs).foreach { case ((table, _, expected), dir) =>
        val head = CommitId(
          readWithRetry(new Path(dir, FileBackedVersionTracker.HeadFile)).trim)
        if (head != expected) throw CommitConflictError(table, expected, head)
      }
      sorted.zip(dirs).foreach { case ((_, update, _), dir) =>
        appendManifest(dir, writeCommit(dir, update))
      }
      sorted.zip(dirs).foreach { case ((_, update, _), dir) =>
        writeAtomic(new Path(dir, FileBackedVersionTracker.HeadFile), update.metadata.id.id)
      }
    }
    dirs.foreach(d => FileBackedVersionTracker.tableLock(d).synchronized(maybeCheckpoint(d)))
  }

  import FileBackedVersionTracker._

  private val fs: FileSystem = FileSystem.get(rootUri, hadoopConf)
  private val root = new Path(rootUri)

  /** Directory listings performed by this tracker instance — the
    * observability counter behind the head-manifest law: a HEALTHY manifest
    * serves per-statement state reads with ZERO listings however long the
    * history ([[commitFilesParsed]] is the companion counter for commit-
    * document parses). At 100k commits a listing is the multi-second
    * driver-side cost; this counter keeps its absence a law, not a hope. */
  private[graft] val directoryListings = new java.util.concurrent.atomic.AtomicLong(0)

  private def listStatusCounted(p: Path): List[org.apache.hadoop.fs.FileStatus] = {
    directoryListings.incrementAndGet()
    fs.listStatus(p).toList
  }

  override def initTable(
      table: TableName, isSnapshot: Boolean, userId: UserId, message: String, timestamp: Instant): Unit = {
    val dir = tableDir(table)
    // refuse only when the table exists SOLELY in chronicles layout — once a
    // graft layout exists (e.g. after migration), graft layout wins
    // resolution and initTable keeps its idempotent-ensure semantics
    if (chroniclesDirExists(table) && !fs.exists(new Path(dir, MetadataFile)))
      throw new UnsupportedOperationException(
        s"Table $table exists in reference (chronicles) layout, which graft reads but does not write; " +
          "run migrateChroniclesTables() to convert it")
    tableLock(dir).synchronized {
      if (!fs.exists(new Path(dir, MetadataFile))) {
        fs.mkdirs(dir)
        withProcessLock(dir) {
          if (!fs.exists(new Path(dir, MetadataFile))) {
            write(new Path(dir, MetadataFile), JsonCodecs.metadataToJson(isSnapshot))
            val update = TableUpdate(userId, message, timestamp, List(TableOperation.InitTable(table, isSnapshot)))
            writeCommit(dir, update)
            writeAtomic(new Path(dir, HeadFile), update.metadata.id.id)
          }
        }
      }
    }
  }

  override def tables(): List[TableName] =
    if (!fs.exists(root)) Nil
    else
      listStatusCounted(root)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .flatMap { n =>
          if (n.startsWith(TableDirPrefix)) TableName.parse(n.stripPrefix(TableDirPrefix)).toOption
          else if (n.startsWith(ChroniclesDirPrefix)) TableName.parse(n.stripPrefix(ChroniclesDirPrefix)).toOption
          else None
        }
        .distinct
        .sortBy(_.fullyQualifiedName)

  override def commit(table: TableName, update: TableUpdate): Unit =
    commitInternal(table, update, None)

  override def commitIf(table: TableName, update: TableUpdate, expectedHead: CommitId): Unit =
    commitInternal(table, update, Some(expectedHead))

  private def commitInternal(
      table: TableName, update: TableUpdate, expectedHead: Option[CommitId]): Unit = {
    val dir = existingWritableTableDir(table)
    // serialize per table WITHIN the process (cheap monitor) and then ACROSS
    // processes (lock file): commit-file order and head order stay consistent,
    // and no two writers can race the head rename into a partial commit
    tableLock(dir).synchronized {
      withProcessLock(dir) {
        // the CAS head read happens INSIDE the cross-process lock, so the
        // compare-and-append is atomic against writers in other processes
        // too — nobody can move the head between the check and the rename
        expectedHead.foreach { h =>
          val head = CommitId(readWithRetry(new Path(dir, HeadFile)).trim)
          if (head != h) throw CommitConflictError(table, h, head)
        }
        val name = writeCommit(dir, update)
        // manifest BEFORE head: if the manifest write fails the commit aborts
        // with the head unmoved, so a healthy manifest can never silently
        // miss a head-reachable commit
        appendManifest(dir, name)
        writeAtomic(new Path(dir, HeadFile), update.metadata.id.id)
      }
      maybeCheckpoint(dir)
    }
  }

  override def setCurrentVersion(table: TableName, id: CommitId): Unit = {
    val st = tableState(table)
    if (!st.updates.exists(_.metadata.id == id)) throw UnknownCommitError(id)
    val dir = existingWritableTableDir(table)
    tableLock(dir).synchronized {
      withProcessLock(dir) {
        writeAtomic(new Path(dir, HeadFile), id.id)
      }
    }
  }

  override def tableState(table: TableName): TableState =
    resolveTableDir(table) match {
      case (dir, GraftLayout)      => graftTableState(dir)
      case (dir, ChroniclesLayout) => chroniclesTableState(dir)
    }

  // ---- tags: one `tag_<name>.json` per tag (content = the commit id),
  // created under the table + process locks so check-then-create is atomic.
  // The reference layout has no tag concept, so chronicles-layout tables
  // report none and refuse creation (they are read-only here anyway). ----

  override def tags(table: TableName): List[(String, CommitId)] =
    resolveTableDir(table) match {
      case (_, ChroniclesLayout) => Nil
      case (dir, GraftLayout) =>
        listStatusCounted(dir).map(_.getPath)
          .filter(p => p.getName.startsWith(TagFilePrefix) && p.getName.endsWith(".json"))
          .flatMap { p =>
            val name = p.getName.stripPrefix(TagFilePrefix).stripSuffix(".json")
            // a tag deleted by another process between the listing and this
            // read simply isn't a tag anymore — skip it, don't crash the
            // caller (vacuum/expirableVersions go through here)
            try Some(name -> CommitId(read(p).trim))
            catch { case _: java.io.FileNotFoundException => None }
          }
          .sortBy(_._1)
    }

  override def createTag(table: TableName, name: String, at: CommitId): Unit = {
    VersionTracker.requireValidTagName(name)
    val dir = existingWritableTableDir(table)
    val st = graftTableState(dir)
    if (!st.updates.exists(_.metadata.id == at)) throw UnknownCommitError(at)
    tableLock(dir).synchronized {
      withProcessLock(dir) {
        val p = new Path(dir, TagFilePrefix + name + ".json")
        if (fs.exists(p)) throw TagExistsError(table, name)
        // temp + rename like everything else: the tag appears atomically
        val tmp = new Path(dir, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
        write(tmp, at.id)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"Tag file rename failed for $p")
        }
      }
    }
  }

  override def deleteTag(table: TableName, name: String): Unit = {
    // validation is a SAFETY boundary here, not hygiene: an unvalidated
    // name is a path, and `x/../head` would resolve onto the head ref
    VersionTracker.requireValidTagName(name)
    val dir = existingWritableTableDir(table)
    tableLock(dir).synchronized {
      withProcessLock(dir) {
        val p = new Path(dir, TagFilePrefix + name + ".json")
        if (!fs.exists(p)) throw UnknownTagError(table, name)
        fs.delete(p, false)
        ()
      }
    }
  }

  /** O(1) ref read: one head-file open ([[readHead]] — the same lock + retry
    * discipline `graftTableState` uses), no directory listing, no history. */
  override def currentRef(table: TableName): CommitId =
    resolveTableDir(table) match {
      case (dir, GraftLayout) => readHead(dir)
      case (dir, ChroniclesLayout) =>
        JsonCodecs.chroniclesHeadFromJson(read(new Path(dir, ChroniclesHeadFile)))
          .fold(e => sys.error(s"Corrupt chronicles head file in $dir: $e"), CommitId.apply)
    }

  /** The head ref of a graft-layout table dir. Takes the table lock: on
    * non-POSIX stores the OVERWRITE rename is delete-then-rename, so an
    * unlocked in-process reader could catch the head file mid-swap and see
    * it absent; the retry loop inside covers readers in OTHER processes
    * (the writer re-creates the file within microseconds). */
  private def readHead(dir: Path): CommitId =
    FileBackedVersionTracker.tableLock(dir).synchronized {
      CommitId(readWithRetry(new Path(dir, HeadFile)).trim)
    }

  /** Paged history. A graft-layout page that fits inside the head
    * manifest's tail (`offset + limit` ≤ tail size: the newest pages a
    * `log` call asks for) is served from the manifest with zero directory
    * listings, like [[updatesPage]]'s first page. Any other page comes
    * from the commit-file LISTING: file-name order == commit order (graft
    * layout) or the reference's (mtime, name) order (chronicles layout), so
    * the page is a sorted slice of the listing and ONLY its files are
    * parsed — O(listing) + O(page) document reads, vs `tableState`'s
    * O(#commits) parse. The streaming-sink `log` case. */
  override def updates(table: TableName, limit: Int, offset: Int): List[TableUpdateMetadata] = {
    VersionTracker.requireValidPage(limit, offset)
    val end = (offset.toLong + limit).min(Int.MaxValue).toInt
    resolveTableDir(table) match {
      case (dir, GraftLayout) =>
        manifestNewestPage(dir, limit, None, offset).map(_._1).getOrElse(
          pagedGraftListing(dir).reverse.slice(offset, end).map(f => parseCommitFile(f._2).metadata))
      case (dir, ChroniclesLayout) =>
        listStatusCounted(dir)
          .filter(s => s.getPath.getName.startsWith(CommitFilePrefix))
          .sortBy(s => (s.getModificationTime, s.getPath.getName)).reverse
          .slice(offset, end).map(s => parseCommitFile(s.getPath).metadata)
    }
  }

  /** Keyset page off the commit-file LISTING: the cursor is the last-seen
    * commit's sort key, and the page is the `limit` newest files sorting
    * strictly BELOW it — so a commit landing between page reads (a NEWER
    * key, by the monotonic clock) can never shift the window, unlike
    * [[updates(table,limit,offset)*]]'s offsets. Same cost shape as offset
    * paging: O(listing) + O(page) document parses. Graft layout cursors on
    * the file NAME; chronicles layout on the reference's (mtime, name)
    * order, cursor `"<mtimeMillis>|<name>"` (round 8 — previously fell back
    * to a full-history materialization per page). */
  override def updatesPage(
      table: TableName, limit: Int, after: Option[String]): (List[TableUpdateMetadata], Option[String]) = {
    VersionTracker.requireValidPage(limit, 0)
    resolveTableDir(table) match {
      case (dir, GraftLayout) =>
        if (limit == 0) (Nil, after)
        else manifestNewestPage(dir, limit, after).getOrElse(
          keysetPage(pagedGraftListing(dir).reverse, limit, after,
            isPast = (k: String, a: String) => k < a,
            renderCursor = identity[String])(p => parseCommitFile(p).metadata))
      case (dir, ChroniclesLayout) =>
        if (limit == 0) (Nil, after)
        else keysetPage(chroniclesListing(dir).reverse, limit, after.map(parseMtimeCursor),
          isPast = mtimeOrd.lt, renderCursor = renderMtimeCursor)(p => parseCommitFile(p).metadata)
    }
  }

  /** Serve a newest-first metadata page straight from the head manifest's
    * tail — ZERO directory listings — when the WHOLE page provably fits
    * inside the tail (the common case: a CLI `log` first page, a delivery
    * ledger's frontier probe, a CDC parent lookup near the head). A page
    * that would cross the fold boundary returns None and the listing path
    * serves it; the cursor is the commit file name either way, so a walk
    * can start on the manifest and continue seamlessly into the listing.
    * (A crashed writer's ORPHAN commit file — present on disk, absent from
    * the manifest — is skipped here until the next checkpoint folds it
    * into the covered prefix; [[pagedGraftListing]] skips it too, so both
    * paths serve the same pages.) `skip` drops that many further commits
    * first — the offset form of [[updates]]. */
  private def manifestNewestPage(
      dir: Path, limit: Int, after: Option[String],
      skip: Int = 0): Option[(List[TableUpdateMetadata], Option[String])] =
    readManifest(dir).filter(_.foldDoc.nonEmpty).flatMap { m =>
      val newestFirst = m.tail.reverse
      val anchored = (after match {
        case None    => newestFirst
        case Some(a) => newestFirst.dropWhile(_ >= a)
      }).drop(skip)
      if (anchored.size < limit) None // page would cross the fold boundary
      else {
        val page = anchored.take(limit)
        try Some((page.map(n => parseCommitFile(new Path(dir, n)).metadata), page.lastOption))
        catch { case _: java.io.FileNotFoundException => None } // torn race: listing path serves
      }
    }

  /** The manifest-served [[VersionTracker.parentCommit]]: when `id` is a
    * TAIL commit, its parent is the previous tail entry — or, for the
    * first tail entry, the fold boundary's own commit (`lastCommitId`) —
    * resolved with zero listings and O(tail) document parses. Ids at or
    * below the boundary (historical deep lookups) fall back to the page
    * walk. */
  override def parentCommit(table: TableName, id: CommitId): Option[CommitId] =
    resolveTableDir(table) match {
      case (dir, GraftLayout) =>
        val fast = readManifest(dir).filter(_.foldDoc.nonEmpty).flatMap { m =>
          try {
            val tailMeta = m.tail.map(n => parseCommitFile(new Path(dir, n)).metadata)
            val i = tailMeta.indexWhere(_.id == id)
            if (i > 0) Some(Some(tailMeta(i - 1).id))
            else if (i == 0)
              JsonCodecs.foldDocFromJson(read(new Path(dir, m.foldDoc.get))).toOption
                .filter(_.lastCovered == m.lastCovered)
                .map(doc => Some(CommitId(doc.lastCommitId)))
            else None // covered prefix (or unknown): the page walk decides
          } catch { case _: java.io.FileNotFoundException => None }
        }
        fast.getOrElse(super.parentCommit(table, id))
      case _ => super.parentCommit(table, id)
    }

  // ---- shared keyset-page core (both layouts, both directions) ----

  /** One page off an already-ordered (sortKey, path) listing: drop entries
    * not strictly PAST the anchor (in listing order), take `limit`, project,
    * and render the next cursor from the page's last key. The four
    * layout×direction paging branches all reduce to this. */
  private def keysetPage[K, A](
      ordered: List[(K, Path)],
      limit: Int,
      after: Option[K],
      isPast: (K, K) => Boolean,
      renderCursor: K => String)(project: Path => A): (List[A], Option[String]) = {
    val anchored = after match {
      case None    => ordered
      case Some(k) => ordered.dropWhile(f => !isPast(f._1, k))
    }
    val page = anchored.take(limit)
    (page.map(f => project(f._2)),
      if (page.size < limit) None else page.lastOption.map(f => renderCursor(f._1)))
  }

  /** Graft-layout commit files keyed+sorted ASCENDING by name (== commit
    * order); `.reverse` for the newest-first direction. */
  private def graftNameListing(dir: Path): List[(String, Path)] =
    listStatusCounted(dir).map(_.getPath)
      .filter(p => p.getName.startsWith(CommitFilePrefix) && p.getName.endsWith(".json"))
      .map(p => (p.getName, p))
      .sortBy(_._1)

  /** [[graftNameListing]] for the newest-first log pages: under a HEALTHY
    * head manifest, commit files past its fold boundary that its tail does
    * not name (a crashed writer's orphan, or a commit still landing) are
    * dropped — the manifest-served pages skip them too, so a page walk
    * that starts on the manifest and continues on the listing never sees
    * a commit twice or out of place. */
  private def pagedGraftListing(dir: Path): List[(String, Path)] = {
    val known = readManifest(dir).filter(_.foldDoc.nonEmpty)
    val listed = graftNameListing(dir)
    known.fold(listed) { m =>
      val tail = m.tail.toSet
      listed.filter { case (n, _) => n <= m.lastCovered || tail(n) }
    }
  }

  /** Chronicles-layout commit files keyed+sorted ASCENDING by the
    * reference's (mtime, name) order; `.reverse` for newest-first. */
  private def chroniclesListing(dir: Path): List[((Long, String), Path)] =
    listStatusCounted(dir)
      .filter(s => s.getPath.getName.startsWith(CommitFilePrefix))
      .map(s => ((s.getModificationTime, s.getPath.getName), s.getPath))
      .sortBy(_._1)

  private val mtimeOrd = implicitly[Ordering[(Long, String)]]

  private def renderMtimeCursor(k: (Long, String)): String = s"${k._1}|${k._2}"

  /** `"<mtimeMillis>|<name>"` → (millis, name); the chronicles-layout page
    * cursor shared by both paging directions. */
  private def parseMtimeCursor(tok: String): (Long, String) = {
    val sep = tok.indexOf('|')
    (for {
      _ <- Option.when(sep > 0)(())
      ms <- tok.take(sep).toLongOption
    } yield (ms, tok.drop(sep + 1))).getOrElse(
      throw new IllegalArgumentException(
        s"Bad page cursor '$tok': expected <mtimeMillis>|<name>"))
  }

  /** Ascending keyset page off the commit-file LISTING: the cursor is the
    * last-seen commit's sort key and the page is the `limit` oldest files
    * strictly ABOVE it — O(listing) + O(page) document parses per call,
    * never a materialization. Graft layout sorts (and cursors) on the file
    * NAME alone (name order == commit order); chronicles layout sorts on
    * the reference's (mtime, name) order, cursor `"<mtimeMillis>|<name>"`,
    * so bulk consumers (export, migrate) stream REFERENCE stores too. */
  override def commitsPageAsc(
      table: TableName, limit: Int, after: Option[String]): (List[TableUpdate], Option[String]) = {
    VersionTracker.requireValidPage(limit, 0)
    resolveTableDir(table) match {
      case (dir, GraftLayout) =>
        if (limit == 0) (Nil, after)
        else keysetPage(graftNameListing(dir), limit, after,
          isPast = (k: String, a: String) => k > a,
          renderCursor = identity[String])(parseCommitFile)
      case (dir, ChroniclesLayout) =>
        if (limit == 0) (Nil, after)
        else keysetPage(chroniclesListing(dir), limit, after.map(parseMtimeCursor),
          isPast = mtimeOrd.gt, renderCursor = renderMtimeCursor)(parseCommitFile)
    }
  }

  private def graftTableState(dir: Path): TableState = {
    // read head BEFORE listing: a concurrent commit (file + head, in that
    // order under the locks) can then only make the listing see MORE commits
    // than head — which folds correctly — never a head id missing from the
    // listing (which would look like a corrupt store).
    val head = readHead(dir)
    TableState(head, mergedUpdates(listStatusCounted(dir).map(_.getPath)).map(_._2))
  }

  /** The full name-ordered history as (fileName, update), reusing the newest
    * readable checkpoint so only the commit TAIL is parsed — shared by
    * `tableState` and the checkpoint writer (which, pre-round-6, re-parsed
    * every commit file per fold: O(n²/interval) across a streaming sink's
    * life; this form is O(tail) per fold, O(n) overall).
    * `ignoreCheckpoint = true` re-derives everything from the commit files
    * (the source of truth) — the checkpoint writer's periodic self-heal. */
  private def mergedUpdates(
      statuses: List[Path], ignoreCheckpoint: Boolean = false): List[(String, TableUpdate)] = {
    val commitFiles = statuses
      .filter(p => p.getName.startsWith(CommitFilePrefix) && p.getName.endsWith(".json"))
      .sortBy(_.getName)
    val checkpoint = (if (ignoreCheckpoint) Nil else statuses)
      .filter(p => p.getName.startsWith(CheckpointFilePrefix) && p.getName.endsWith(".json"))
      .sortBy(_.getName)
      .lastOption
      .flatMap { p =>
        // a corrupt/unreadable checkpoint must not brick the store: the
        // commit files are the source of truth, fall back to the full scan
        (try JsonCodecs.checkpointFromJson(read(p))
         catch { case e: Exception => Left(e.toString) }) match {
          case Right(cp) => Some(cp)
          case Left(e) =>
            GraftLog.warn("corrupt_state_checkpoint", "path" -> p, "error" -> e,
              "fallback" -> "commit_scan")
            None
        }
      }
    checkpoint match {
      case Some((coveredNames, folded)) =>
        // merge checkpointed and tail commits back into NAME order — the
        // same order a full scan folds in — so a clock-skewed commit whose
        // name sorts below the checkpoint boundary lands in the same
        // position either way, not appended at the end
        val coveredSet = coveredNames.toSet
        val tail = commitFiles.filterNot(p => coveredSet(p.getName))
          .map(p => p.getName -> parseCommitFile(p))
        (coveredNames.zip(folded) ++ tail).sortBy(_._1)
      case None =>
        commitFiles.map(p => p.getName -> parseCommitFile(p))
    }
  }

  private def chroniclesTableState(dir: Path): TableState = {
    val headJson = read(new Path(dir, ChroniclesHeadFile))
    val head = JsonCodecs.chroniclesHeadFromJson(headJson)
      .fold(e => sys.error(s"Corrupt chronicles head file in $dir: $e"), CommitId.apply)
    // the reference orders commits by (mtime, name) — FileBackedVersionTracker.scala:98
    val files = listStatusCounted(dir)
      .filter(s => s.getPath.getName.startsWith(CommitFilePrefix))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
      .map(_.getPath)
    TableState(head, files.map(parseCommitFile))
  }

  /** Commit documents parsed by this tracker instance — observability for
    * the O(tail) guarantee of [[currentVersion]] (the file-store analogue of
    * the JDBC tracker's `historyRowsScanned`; pinned by the fold-law spec). */
  private[graft] val commitFilesParsed = new java.util.concurrent.atomic.AtomicLong(0)

  private def parseCommitFile(p: Path): TableUpdate = {
    commitFilesParsed.incrementAndGet()
    JsonCodecs.fromJson(read(p)).fold(e => sys.error(s"Corrupt commit file $p: $e"), identity)
  }

  /**
   * Current visible state WITHOUT materializing the history: reads the
   * newest fold document (folded `TableVersion` at the checkpoint boundary —
   * O(#live partitions), the size of the answer) plus only the commit files
   * past the boundary, and [[TableState.foldForward]]s the tail onto it.
   * Falls back to the full [[tableState]] replay whenever the fast path
   * cannot PROVE equivalence with a full fold:
   *
   *  - no fold document yet (young table, pre-upgrade store, chronicles layout)
   *  - covered + tail ≠ total commit files (a clock-skewed cross-process
   *    commit landed with a name BELOW the boundary — the full merge puts it
   *    in fold position, so must we)
   *  - the head ref is neither the boundary commit nor in the tail (a
   *    checkout into checkpointed history — state there needs the prefix)
   *
   * This is the bounded-memory analogue of the reference's lazily streamed
   * history fold (reference core VersionTracker.scala:137-151): the driver
   * holds O(tail) updates + O(partitions) state, never the full log.
   */
  override def currentVersion(table: TableName): TableVersion =
    resolveTableDir(table) match {
      case (dir, GraftLayout) => foldedCurrentVersion(dir).getOrElse(super.currentVersion(table))
      case _                  => super.currentVersion(table)
    }

  /** [[VersionTracker.headState]] from "fold doc + tail": the fold doc's
    * read-side extras (schema + DV bases at the boundary, present on docs
    * written since the field existed) fold forward under the tail's ops —
    * O(partitions + tail) I/O and memory, the same guarantee (and the same
    * PROVE-equivalence-or-fall-back conditions) as the
    * [[currentVersion]] fast path. Pre-upgrade fold docs lack the extras
    * and fall back to the full replay rather than fabricate an empty base
    * map (which would silently unpin live DV bases from retention). */
  override def headState(table: TableName): HeadState =
    resolveTableDir(table) match {
      case (dir, GraftLayout) => foldedHeadState(dir).getOrElse(super.headState(table))
      case _                  => super.headState(table)
    }

  /** Bounded [[VersionTracker.versionAt]]: fold doc + tail up to `id` —
    * the post-commit pin path (a just-committed id is always in the tail).
    * Ids inside the covered prefix fall back to the full replay. */
  override def versionAt(table: TableName, id: CommitId): TableVersion =
    resolveTableDir(table) match {
      case (dir, GraftLayout) =>
        foldedResolved(dir, Some(id)).map { case (_, doc, tailUpToId) =>
          TableState.foldForward(doc.state, tailUpToId)
        }.getOrElse(super.versionAt(table, id))
      case _ => super.versionAt(table, id)
    }

  private def foldedHeadState(dir: Path): Option[HeadState] =
    foldedResolved(dir, None).flatMap { case (head, doc, tailUpToHead) =>
      doc.resolved.map { extras =>
        val schema = TableState.lastSchemaJson(tailUpToHead).orElse(extras.schemaJson)
        val bases = extras.bases ++ TableState.basesOf(tailUpToHead)
        HeadState(head, TableState.foldForward(doc.state, tailUpToHead), schema, bases)
      }
    }

  private def foldedCurrentVersion(dir: Path): Option[TableVersion] =
    foldedResolved(dir, None).map { case (_, doc, tailUpToHead) =>
      TableState.foldForward(doc.state, tailUpToHead)
    }

  /** The shared fast-path resolution: fold doc + the commit tail UP TO the
    * target ref (`None` = the head), with the equivalence guards (no doc,
    * skewed commit below the boundary, target inside the covered prefix ⇒
    * None). A HEALTHY head manifest resolves everything with ZERO directory
    * listings — head + manifest + fold doc + O(tail) commit opens,
    * independent of history length; otherwise the listing-based path (with
    * its commit-count skew guard) serves the same answer. */
  private def foldedResolved(
      dir: Path, target: Option[CommitId]): Option[(CommitId, JsonCodecs.FoldDoc, List[TableUpdate])] =
    try {
      // head BEFORE manifest/listing, same discipline as graftTableState: a
      // concurrent commit (file → manifest → head, under the locks) can only
      // make the manifest/listing see MORE than head, never less
      val head = target.getOrElse(readHead(dir))
      readManifest(dir) match {
        case Some(m) if m.foldDoc.nonEmpty => manifestResolved(dir, head, m)
        case _                             => listingResolved(dir, head)
      }
    } catch {
      // e.g. a concurrent checkpoint replaced the fold doc between the
      // manifest read and the doc read — the full replay is always available
      case _: java.io.FileNotFoundException => None
    }

  /** Resolve "fold doc + tail" straight from the head manifest: no listing.
    * The manifest invariants (maintained under the commit locks) make its
    * tail the exact post-boundary commit set, so no count guard is needed;
    * any torn read (doc replaced mid-flight, boundary mismatch) returns
    * None and the caller's fallback replay serves the answer. */
  private def manifestResolved(
      dir: Path, head: CommitId, m: JsonCodecs.HeadManifest): Option[(CommitId, JsonCodecs.FoldDoc, List[TableUpdate])] =
    JsonCodecs.foldDocFromJson(read(new Path(dir, m.foldDoc.get))) match {
      case Left(e) =>
        GraftLog.warn("corrupt_state_fold", "path" -> new Path(dir, m.foldDoc.get), "error" -> e,
          "fallback" -> "listing")
        None
      case Right(doc) =>
        if (doc.lastCovered != m.lastCovered) None // torn manifest/doc pair
        else if (head.id == doc.lastCommitId) Some((head, doc, Nil))
        else {
          val tailUpdates = m.tail.map(n => parseCommitFile(new Path(dir, n)))
          val idx = tailUpdates.indexWhere(_.metadata.id == head)
          if (idx < 0) None // checkout into the covered prefix (or corrupt head)
          else Some((head, doc, tailUpdates.take(idx + 1)))
        }
    }

  /** The pre-manifest resolution path (young tables, degraded manifests,
    * pre-upgrade stores): newest fold doc from the directory listing, with
    * the commit-count guard against clock-skewed names below the boundary. */
  private def listingResolved(
      dir: Path, head: CommitId): Option[(CommitId, JsonCodecs.FoldDoc, List[TableUpdate])] = {
    val statuses = listStatusCounted(dir).map(_.getPath)
    val foldDoc = statuses
      .filter(p => p.getName.startsWith(StateFoldFilePrefix) && p.getName.endsWith(".json"))
      .sortBy(_.getName).lastOption
    foldDoc.flatMap { p =>
      JsonCodecs.foldDocFromJson(read(p)) match {
        case Left(e) =>
          GraftLog.warn("corrupt_state_fold", "path" -> p, "error" -> e,
            "fallback" -> "commit_replay")
          None
        case Right(doc) =>
          val commitFiles = statuses
            .filter(q => q.getName.startsWith(CommitFilePrefix) && q.getName.endsWith(".json"))
          val tail = commitFiles.filter(_.getName > doc.lastCovered).sortBy(_.getName)
          if (doc.coveredCount + tail.size != commitFiles.size) None // skewed name below boundary
          else if (head.id == doc.lastCommitId) Some((head, doc, Nil))
          else {
            val tailUpdates = tail.map(parseCommitFile)
            val idx = tailUpdates.indexWhere(_.metadata.id == head)
            if (idx < 0) None // checkout into the covered prefix (or corrupt head)
            else Some((head, doc, tailUpdates.take(idx + 1)))
          }
      }
    }
  }

  override def isSnapshotTable(table: TableName): Boolean = {
    val (dir, layout) = resolveTableDir(table)
    val p = new Path(dir, if (layout == GraftLayout) MetadataFile else ChroniclesMetadataFile)
    JsonCodecs.metadataFromJson(read(p)).fold(e => sys.error(s"Corrupt metadata $p: $e"), identity)
  }

  /**
   * Convert every reference-layout (`_chronicles_table_*`) store under the
   * root into graft-v2 layout, preserving commit order, commit ids, and the
   * head ref. The source directory is left untouched (read-only input);
   * tables that already exist in graft layout are skipped. Returns the tables
   * migrated.
   */
  def migrateChroniclesTables(): List[TableName] =
    tables().flatMap { table =>
      val graftMetadata = new Path(tableDir(table), MetadataFile)
      if (!chroniclesDirExists(table) || fs.exists(graftMetadata)) None
      else {
        val src = new Path(root, ChroniclesDirPrefix + table.fullyQualifiedName)
        val dir = tableDir(table)
        tableLock(dir).synchronized {
          fs.mkdirs(dir)
          withProcessLock(dir) {
            // re-check under the lock: a concurrent migrate that won the race
            // has already written the (completion-marking) metadata file, and
            // writing again would duplicate the entire commit history
            if (fs.exists(graftMetadata)) None
            else {
              // no metadata => no complete graft table exists here; any files
              // present are debris of a crashed earlier migration — drop them
              // so the re-run can't duplicate history
              listStatusCounted(dir).map(_.getPath)
                .filter(p => p.getName.startsWith(CommitFilePrefix) ||
                  p.getName.startsWith(CheckpointFilePrefix) ||
                  p.getName.startsWith(StateFoldFilePrefix) ||
                  p.getName == HeadFile || p.getName == ManifestFile)
                .foreach(fs.delete(_, false))
              // head BEFORE history (the usual discipline), then STREAM the
              // source history in ascending keyset pages — a 100k-commit
              // reference store migrates at O(page) driver memory, same as
              // the export path; monotonic names preserve commit order
              val head = JsonCodecs.chroniclesHeadFromJson(read(new Path(src, ChroniclesHeadFile)))
                .fold(e => sys.error(s"Corrupt chronicles head file in $src: $e"), CommitId.apply)
              val isSnapshot = isSnapshotTable(table)
              // metadata not yet written => resolveTableDir still points at
              // the chronicles source, so this pages the SOURCE history
              forEachCommitAsc(table, MigratePageSize)(writeCommit(dir, _))
              writeAtomic(new Path(dir, HeadFile), head.id)
              // metadata file LAST: it is what flips layout resolution to the
              // graft dir, so a crash mid-migration leaves the (complete)
              // chronicles layout visible and a retry re-runs cleanly instead
              // of resolving to a half-written graft dir with no head
              write(graftMetadata, JsonCodecs.metadataToJson(isSnapshot))
              Some(table)
            }
          }
        }
      }
    }

  // ---- helpers ----

  private def tableDir(table: TableName): Path =
    new Path(root, TableDirPrefix + table.fullyQualifiedName)

  private def chroniclesDirExists(table: TableName): Boolean =
    fs.exists(new Path(new Path(root, ChroniclesDirPrefix + table.fullyQualifiedName), ChroniclesMetadataFile))

  /** Resolve a table to its directory and layout; graft layout wins if both
    * exist (e.g. after a migration that kept the source around). */
  private def resolveTableDir(table: TableName): (Path, Layout) = {
    val dir = tableDir(table)
    if (fs.exists(new Path(dir, MetadataFile))) (dir, GraftLayout)
    else if (chroniclesDirExists(table))
      (new Path(root, ChroniclesDirPrefix + table.fullyQualifiedName), ChroniclesLayout)
    else throw UnknownTableError(table)
  }

  private def existingWritableTableDir(table: TableName): Path =
    resolveTableDir(table) match {
      case (dir, GraftLayout) => dir
      case (_, ChroniclesLayout) =>
        throw new UnsupportedOperationException(
          s"Table $table is in reference (chronicles) layout, which graft reads but does not write; " +
            "run migrateChroniclesTables() to convert it")
    }

  private def writeCommit(dir: Path, update: TableUpdate): String = {
    val name = CommitFilePrefix + Version.TimestampFormat.format(
      MonotonicClock.nextUniqueInstant().atOffset(java.time.ZoneOffset.UTC)) + ".json"
    // temp + rename: the commit file appears atomically, fully written — a
    // concurrent reader's listing can never catch a truncated JSON document.
    // Names are unique (monotonic clock), so no-overwrite rename suffices.
    val tmp = new Path(dir, s".$name.tmp-${java.util.UUID.randomUUID()}")
    write(tmp, JsonCodecs.toJson(update))
    if (!fs.rename(tmp, new Path(dir, name))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"Commit file rename failed for $dir/$name")
    }
    name
  }

  // ---- head manifest: the no-listing state-read index ----

  private def manifestPath(dir: Path): Path = new Path(dir, ManifestFile)

  /** The table's head manifest, or None when absent/corrupt (readers then
    * fall back to the listing-based path; the next checkpoint rebuilds it). */
  private def readManifest(dir: Path): Option[JsonCodecs.HeadManifest] =
    try JsonCodecs.manifestFromJson(read(manifestPath(dir))) match {
      case Right(m) => Some(m)
      case Left(e) =>
        GraftLog.warn("corrupt_head_manifest", "dir" -> dir, "error" -> e,
          "fallback" -> "listing")
        None
    } catch { case _: java.io.FileNotFoundException => None }

  /** Record a freshly appended commit in the head manifest. MUST run inside
    * the table AND cross-process locks, BEFORE the head-ref write: a failure
    * here aborts the commit with the head unmoved (the orphan commit file is
    * unreachable and gets folded in at the next checkpoint), so a HEALTHY
    * manifest can never be missing a head-reachable commit. Absent or
    * degraded manifests are left for the next checkpoint to rebuild; a
    * commit whose clock-derived name sorts at or below the fold boundary
    * (cross-process clock skew) DEGRADES the manifest, sending readers back
    * to the listing path that already guards that case. */
  private def appendManifest(dir: Path, commitName: String): Unit =
    readManifest(dir).foreach { m =>
      if (m.foldDoc.isEmpty) () // degraded: next checkpoint rebuilds
      else if (commitName <= m.lastCovered)
        writeAtomic(manifestPath(dir), JsonCodecs.manifestToJson(Degraded))
      else
        writeAtomic(manifestPath(dir), JsonCodecs.manifestToJson(
          m.copy(tail = (commitName :: m.tail).sorted)))
    }

  /** Fold the current history into a checkpoint document, then drop older
    * checkpoints. Runs every [[checkpointInterval]] commits, and reuses the
    * PREVIOUS checkpoint via [[mergedUpdates]], so each fold parses only
    * the commit tail — O(tail) per ordinary fold. Every [[FullRefoldEvery]]-th
    * fold re-parses all n commit files (the self-heal below), so lifetime
    * checkpoint cost is O(n²/(interval·FullRefoldEvery)) — amortized
    * O(n/512) files parsed per commit at the defaults, vs O(n/interval)
    * per commit for the pre-round-6 always-full refold.
    *
    * Chaining from the previous checkpoint means a wrong-but-PARSEABLE
    * checkpoint (buggy foreign writer, bitflip that stays valid JSON) would
    * propagate instead of self-healing, so every [[FullRefoldEvery]]-th fold
    * re-derives the whole document from the commit files — the source of
    * truth — bounding how long a bad fold can live while keeping the
    * amortized fold cost far below the old always-full behavior. */
  private def maybeCheckpoint(dir: Path): Unit = {
    val n = commitCounter(dir).incrementAndGet()
    if (n % checkpointInterval == 0) {
      try {
        val statuses = listStatusCounted(dir).map(_.getPath)
        val fullRefold = (n / checkpointInterval) % FullRefoldEvery == 0
        val merged = mergedUpdates(statuses, ignoreCheckpoint = fullRefold)
        val name = CheckpointFilePrefix + Version.TimestampFormat.format(
          MonotonicClock.nextUniqueInstant().atOffset(java.time.ZoneOffset.UTC)) + ".json"
        val tmp = new Path(dir, s".$name.tmp-${java.util.UUID.randomUUID()}")
        write(tmp, JsonCodecs.checkpointToJson(merged.map(_._1), merged.map(_._2)))
        if (!fs.rename(tmp, new Path(dir, name))) { fs.delete(tmp, false) }
        else {
          statuses
            .filter(p => p.getName.startsWith(CheckpointFilePrefix) && p.getName.endsWith(".json"))
            .foreach(old => try fs.delete(old, false) catch { case _: Exception => () })
          // fold document beside the checkpoint: the folded TableVersion at
          // the boundary, sized by live partitions not commits — what lets
          // currentVersion skip the history entirely (see foldedCurrentVersion)
          merged.lastOption.foreach { case (lastName, lastUpdate) =>
            val foldName = StateFoldFilePrefix + name.stripPrefix(CheckpointFilePrefix)
            val foldTmp = new Path(dir, s".$foldName.tmp-${java.util.UUID.randomUUID()}")
            val covered = merged.map(_._2)
            write(foldTmp, JsonCodecs.foldDocToJson(
              lastName, lastUpdate.metadata.id.id, merged.size,
              TableState.foldVersion(covered),
              // read-side extras: recorded schema + DV base bindings at the
              // boundary — what headState folds the tail onto
              TableState.lastSchemaJson(covered), TableState.basesOf(covered)))
            if (!fs.rename(foldTmp, new Path(dir, foldName))) { fs.delete(foldTmp, false) }
            else {
              // manifest BEFORE deleting superseded fold docs: a reader that
              // already fetched the old manifest hits file-not-found on the
              // old doc and falls back to the listing path — never a wrong
              // answer, only a slow one
              rewriteManifest(dir, foldName, lastName, merged.map(_._1).toSet)
              statuses
                .filter(p => p.getName.startsWith(StateFoldFilePrefix) && p.getName.endsWith(".json"))
                .foreach(old => try fs.delete(old, false) catch { case _: Exception => () })
            }
          }
        }
      } catch {
        // checkpointing is an optimization; a failure must never fail the commit
        case e: Exception => GraftLog.warn("state_checkpoint_failed", "dir" -> dir, "error" -> e)
      }
    }
  }

  /** Point the head manifest at a just-written fold document. Takes the
    * cross-process lock so the rewrite can't clobber a concurrent commit's
    * manifest append in another process. The commit set folded into the doc
    * (`covered`) came from a listing taken OUTSIDE that lock, so two guards
    * keep the manifest's core invariant — a healthy manifest never misses a
    * head-reachable commit:
    *  - a tail entry at or below the boundary that the fold did NOT cover
    *    (a racing clock-skewed commit) degrades the manifest;
    *  - a manifest whose boundary is already NEWER than this fold's (two
    *    processes checkpointing back-to-back, rewrites landing out of
    *    order) is left untouched — rewinding it would orphan the commits
    *    between the two boundaries.
    * Failures only log: the manifest is an optimization and the reader
    * falls back to the listing path whenever it is stale or absent. */
  private def rewriteManifest(
      dir: Path, foldName: String, lastCovered: String, covered: Set[String]): Unit =
    try withProcessLock(dir) {
      val current = readManifest(dir)
      if (!current.exists(m => m.foldDoc.nonEmpty && m.lastCovered > lastCovered)) {
        val tail: Option[List[String]] = current match {
          case Some(m) if m.foldDoc.nonEmpty =>
            // healthy manifest: its tail is the authoritative post-boundary
            // set (it saw every commit appended since, under the locks)
            val (below, above) = m.tail.partition(_ <= lastCovered)
            if (below.forall(covered)) Some(above) else None
          case _ =>
            // absent/degraded: derive the tail from a re-listing taken UNDER
            // the lock (no commit can land concurrently), same skew guard
            val names = listStatusCounted(dir).map(_.getPath.getName)
              .filter(n => n.startsWith(CommitFilePrefix) && n.endsWith(".json"))
            val (below, above) = names.partition(_ <= lastCovered)
            if (below.forall(covered)) Some(above.sorted) else None
        }
        writeAtomic(manifestPath(dir), JsonCodecs.manifestToJson(
          tail.fold(Degraded)(t => JsonCodecs.HeadManifest(Some(foldName), lastCovered, t))))
      }
    } catch {
      case e: Exception => GraftLog.warn("head_manifest_rewrite_failed", "dir" -> dir, "error" -> e)
    }

  /** Local filesystems bypass the Hadoop ChecksumFileSystem layer (NIO
    * direct): a Hadoop local create+close measured 12.5ms against NIO's
    * 0.1ms — with two writes and a rename per commit that layer alone made
    * commits ~70ms. HDFS/S3 keep the `fs` path unchanged. */
  private def write(path: Path, content: String): Unit =
    if (isLocalFs) {
      java.nio.file.Files.write(java.nio.file.Paths.get(path.toUri.getPath),
        content.getBytes(StandardCharsets.UTF_8))
      ()
    } else {
      val out = fs.create(path, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

  /** One FileContext per tracker: FileContext is immutable/thread-safe by
    * design, and constructing one per head swap re-resolves the filesystem
    * from the Configuration each time — measured tens of ms per commit on
    * the streaming-sink path before round 6 cached it. */
  private lazy val fileContext =
    org.apache.hadoop.fs.FileContext.getFileContext(rootUri, hadoopConf)

  /** Overwrite `path` via temp-file + atomic rename, so a crash mid-write can
    * never leave a truncated/corrupt head ref behind. On local filesystems
    * the rename is POSIX rename(2) (atomic REPLACE — no visibility window at
    * all; `readWithRetry` stays for the non-POSIX stores, whose FileContext
    * OVERWRITE rename is delete-then-rename). */
  private def writeAtomic(path: Path, content: String): Unit = {
    val tmp = new Path(path.getParent, s".${path.getName}.tmp-${java.util.UUID.randomUUID()}")
    write(tmp, content)
    try {
      if (isLocalFs)
        // REPLACE_EXISTING alongside ATOMIC_MOVE: POSIX rename(2) replaces
        // implicitly, but non-POSIX local filesystems may otherwise throw
        // when the target exists — spelling out the intent keeps the head
        // swap working on both
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(path.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else fileContext.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Exception =>
        fs.delete(tmp, false)
        throw new java.io.IOException(s"Atomic head update failed for $path", e)
    }
  }

  private def read(path: Path): String =
    if (isLocalFs) {
      // rethrow as FileNotFoundException: callers (readWithRetry, the tag
      // listing) catch that type, and NIO's NoSuchFileException is not one
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path.toUri.getPath)), StandardCharsets.UTF_8)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getFile)
      }
    } else {
      val in = fs.open(path)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }

  /** Read that retries briefly on file-not-found: closes the local-FS
    * delete-then-rename window of head updates for readers in OTHER
    * processes (in-process readers are already excluded by the table lock). */
  private def readWithRetry(path: Path): String = {
    var attempt = 0
    while (true) {
      try return read(path)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 5) throw e
          Thread.sleep(20L * attempt)
      }
    }
    sys.error("unreachable")
  }

  // ---- cross-process lock ----

  /** Run `body` while holding the table's `commit.lock` file, created
    * exclusively (O_EXCL on `file://` via NIO — Hadoop's RawLocalFileSystem
    * `create(overwrite=false)` is check-then-create, not atomic; HDFS create
    * is atomic natively). A lock older than [[LockTtlMs]] is presumed
    * abandoned by a crashed writer and broken. */
  private def withProcessLock[A](dir: Path)(body: => A): A = {
    val lockPath = new Path(dir, LockFile)
    acquireProcessLock(lockPath)
    try body
    finally releaseProcessLock(lockPath)
  }

  private def isLocalFs: Boolean = "file" == fs.getUri.getScheme

  private def acquireProcessLock(lockPath: Path): Unit = {
    val deadline = System.nanoTime() + LockTimeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      acquired = tryCreateExclusive(lockPath)
      if (!acquired) {
        val ageMs =
          try Some(System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        if (ageMs.exists(_ > LockTtlMs)) {
          // break the stale lock by RENAMING it to a unique name and deleting
          // that: rename is atomic, so of N waiters that all saw the lock as
          // stale exactly one wins — a plain delete here would let a second
          // waiter delete the lock the first just re-acquired, putting two
          // writers inside the critical section
          breakStaleLock(lockPath)
        } else if (System.nanoTime() > deadline) {
          throw new java.io.IOException(
            s"Timed out after ${LockTimeoutMs}ms acquiring commit lock $lockPath " +
              s"(another writer holds it; stale locks are broken after ${LockTtlMs}ms)")
        } else Thread.sleep(20)
      }
    }
  }

  private def breakStaleLock(lockPath: Path): Unit = {
    val broken = new Path(lockPath.getParent,
      s".${lockPath.getName}.broken-${java.util.UUID.randomUUID()}")
    try {
      if (isLocalFs)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(lockPath.toUri.getPath),
          java.nio.file.Paths.get(broken.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else if (!fs.rename(lockPath, broken)) return // another waiter won the break
      if (isLocalFs) java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(broken.toUri.getPath))
      else fs.delete(broken, false)
      ()
    } catch {
      case _: java.nio.file.NoSuchFileException => () // another waiter won the break
      case _: java.io.FileNotFoundException     => ()
      case _: java.io.IOException               => ()
    }
  }

  private def tryCreateExclusive(p: Path): Boolean =
    try {
      if (isLocalFs) {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
      } else {
        val out = fs.create(p, false)
        try out.write(java.util.UUID.randomUUID().toString.getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException        => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException                             => false
    }

  private def releaseProcessLock(p: Path): Unit =
    if (isLocalFs) { java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p.toUri.getPath)); () }
    else { fs.delete(p, false); () }
}

object FileBackedVersionTracker {
  val TableDirPrefix = "_graft_table_"
  val MetadataFile = "table-metadata.json"
  val HeadFile = "head.json"
  val CommitFilePrefix = "table_update_"
  val CheckpointFilePrefix = "state_checkpoint_"
  val StateFoldFilePrefix = "state_fold_"
  val ManifestFile = "head-manifest.json"

  /** The degraded head manifest: readers fall back to the listing path, the
    * next checkpoint rebuilds a healthy one. */
  private val Degraded = JsonCodecs.HeadManifest(None, "", Nil)
  val TagFilePrefix = "tag_"
  val LockFile = "commit.lock"

  /** Reference layout constants
    * (`FileBackedVersionTracker.scala:160-164` in the reference). */
  val ChroniclesDirPrefix = "_chronicles_table_"
  val ChroniclesMetadataFile = "table-metadata"
  val ChroniclesHeadFile = "head_ref"

  val DefaultCheckpointInterval = 64

  /** Commits held in memory at once while migrating a chronicles store —
    * same O(page) role as [[ChroniclesExport.ExportPageSize]]. */
  val MigratePageSize = 1024

  /** Every Nth checkpoint fold re-derives from the commit files instead of
    * chaining the previous checkpoint — the self-heal cadence for a
    * wrong-but-parseable checkpoint. */
  val FullRefoldEvery = 8
  private val LockTimeoutMs = 15000L
  private val LockTtlMs = 60000L

  private sealed trait Layout
  private case object GraftLayout extends Layout
  private case object ChroniclesLayout extends Layout

  /** JVM-wide striped locks: two tracker INSTANCES over the same table
    * directory must serialize on the same monitor, so the lock is keyed by
    * the directory, not the instance. A fixed stripe (two dirs may share a
    * monitor — extra serialization, never less) bounds memory for drivers
    * that create many short-lived stores. */
  private val lockStripe = Array.fill(64)(new Object)
  private[sources] def tableLock(dir: Path): Object =
    lockStripe(math.floorMod(dir.toString.hashCode, lockStripe.length))

  /** Per-directory commit counters driving the checkpoint cadence. JVM-local
    * by design: a fresh process just starts counting again, so checkpoints
    * lag by at most one interval per process — correctness never depends on
    * them (commit files remain the source of truth). */
  private val commitCounts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def commitCounter(dir: Path): java.util.concurrent.atomic.AtomicLong =
    commitCounts.computeIfAbsent(dir.toString, _ => new java.util.concurrent.atomic.AtomicLong(0))
}
