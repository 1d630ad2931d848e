package graft.sources

import graft.core._

import java.sql.{Connection, DriverManager, ResultSet, Statement}
import java.time.Instant

/**
 * JDBC-backed commit log — the reference's `db` module
 * (`db/src/main/scala/dev/chronicles/db/DbVersionTracker.scala:41-308`)
 * re-expressed on plain java.sql against embedded Derby (the JDBC engine
 * available offline; the SQL sticks to the portable subset the reference
 * uses for H2/Postgres).
 *
 * Same 4-table schema: `tables` (+ is_snapshot), `updates` (sequence-ordered
 * commits), `operations` (typed rows, `index_in_commit` preserving op order),
 * `version_refs` (current commit pointer). History reads join updates ×
 * operations ordered by (sequence_id, index_in_commit) and group adjacent
 * rows into commits, exactly like the reference's fs2 `groupAdjacentBy`.
 * All writes run in SERIALIZABLE transactions (DbVersionTracker.scala:118-124).
 *
 * History checkpointing (the JDBC analogue of the file store's
 * `state_checkpoint_*.json` documents): every `checkpointInterval` commits
 * the full history is folded into one row of `graft_checkpoints`
 * (table_name, covered sequence_id, state CLOB in the same JSON document
 * format the file store uses). `tableState` then reads the checkpoint row
 * plus only the updates/operations rows with `sequence_id` past the
 * checkpoint — O(tail) history rows per read instead of re-scanning a
 * 100k-commit streaming-sink table's whole join every time. A corrupt
 * checkpoint row degrades to the full scan (never bricks the store), same
 * policy as the file store's corrupt-checkpoint fallback.
 */
final class JdbcVersionTracker(
    jdbcUrl: String,
    checkpointInterval: Int = JdbcVersionTracker.DefaultCheckpointInterval)
  extends VersionTracker with GroupCommitTracker {

  require(checkpointInterval >= 1, s"checkpointInterval must be >= 1, was $checkpointInterval")

  /** Cumulative count of history rows fetched from the updates×operations
    * join by [[tableState]] — observability for the O(tail) guarantee (the
    * JDBC analogue of counting commit-file reads on the file store). */
  @volatile private[graft] var historyRowsScanned: Long = 0L

  private val conn: Connection = {
    val c = DriverManager.getConnection(jdbcUrl)
    c.setAutoCommit(false)
    c.setTransactionIsolation(Connection.TRANSACTION_SERIALIZABLE)
    c
  }

  createSchema()

  private def createSchema(): Unit = {
    def tableExists(name: String): Boolean = {
      val rs = conn.getMetaData.getTables(null, null, name.toUpperCase, null)
      try rs.next() finally rs.close()
    }
    def columnExists(table: String, column: String): Boolean = {
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, column.toUpperCase)
      try rs.next() finally rs.close()
    }
    withStatement { st =>
      if (!tableExists("graft_tables"))
        st.executeUpdate(
          """CREATE TABLE graft_tables (
            |  table_name VARCHAR(512) PRIMARY KEY,
            |  is_snapshot BOOLEAN NOT NULL)""".stripMargin)
      if (!tableExists("graft_updates"))
        st.executeUpdate(
          """CREATE TABLE graft_updates (
            |  sequence_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            |  commit_id VARCHAR(64) NOT NULL UNIQUE,
            |  table_name VARCHAR(512) NOT NULL REFERENCES graft_tables(table_name),
            |  user_id VARCHAR(256) NOT NULL,
            |  message VARCHAR(4096) NOT NULL,
            |  created_at TIMESTAMP NOT NULL)""".stripMargin)
      if (!tableExists("graft_operations"))
        st.executeUpdate(
          """CREATE TABLE graft_operations (
            |  commit_id VARCHAR(64) NOT NULL REFERENCES graft_updates(commit_id),
            |  index_in_commit INT NOT NULL,
            |  op_type VARCHAR(32) NOT NULL,
            |  partition_path VARCHAR(1024),
            |  version_label VARCHAR(128),
            |  is_snapshot BOOLEAN,
            |  extra_doc CLOB,
            |  PRIMARY KEY (commit_id, index_in_commit))""".stripMargin)
      else if (!columnExists("graft_operations", "extra_doc"))
        // transparent upgrade of pre-round-14 stores: the column carries
        // set-table-schema documents / set-version-base labels; NULL for
        // every older op, so old rows decode unchanged
        st.executeUpdate("ALTER TABLE graft_operations ADD COLUMN extra_doc CLOB")
      if (!tableExists("graft_version_refs"))
        st.executeUpdate(
          """CREATE TABLE graft_version_refs (
            |  table_name VARCHAR(512) PRIMARY KEY REFERENCES graft_tables(table_name),
            |  current_commit VARCHAR(64) NOT NULL)""".stripMargin)
      if (!tableExists("graft_tags"))
        st.executeUpdate(
          """CREATE TABLE graft_tags (
            |  table_name VARCHAR(512) NOT NULL REFERENCES graft_tables(table_name),
            |  tag_name VARCHAR(256) NOT NULL,
            |  commit_id VARCHAR(64) NOT NULL REFERENCES graft_updates(commit_id),
            |  PRIMARY KEY (table_name, tag_name))""".stripMargin)
      if (!tableExists("graft_checkpoints"))
        st.executeUpdate(
          """CREATE TABLE graft_checkpoints (
            |  table_name VARCHAR(512) PRIMARY KEY REFERENCES graft_tables(table_name),
            |  sequence_id BIGINT NOT NULL,
            |  state CLOB NOT NULL)""".stripMargin)
      // folded TableVersion at the checkpoint boundary — O(#live partitions)
      // where the checkpoint CLOB is O(#commits); created if missing, so
      // stores from before this column's introduction upgrade transparently
      if (!tableExists("graft_state_folds"))
        st.executeUpdate(
          """CREATE TABLE graft_state_folds (
            |  table_name VARCHAR(512) PRIMARY KEY REFERENCES graft_tables(table_name),
            |  sequence_id BIGINT NOT NULL,
            |  last_commit_id VARCHAR(64) NOT NULL,
            |  folded CLOB NOT NULL)""".stripMargin)
    }
    conn.commit()
  }

  override def initTable(
      table: TableName, isSnapshot: Boolean, userId: UserId, message: String, timestamp: Instant): Unit =
    synchronized {
      if (!exists(table)) {
        val update = TableUpdate(userId, message, timestamp,
          List(TableOperation.InitTable(table, isSnapshot)))
        try {
          withStatement { st =>
            st.executeUpdate(
              s"INSERT INTO graft_tables VALUES ('${esc(table.fullyQualifiedName)}', $isSnapshot)")
          }
          insertUpdate(table, update)
          withStatement { st =>
            st.executeUpdate(
              s"INSERT INTO graft_version_refs VALUES ('${esc(table.fullyQualifiedName)}', '${esc(update.metadata.id.id)}')")
          }
          conn.commit()
        } catch { case e: Throwable => conn.rollback(); throw e }
      }
    }

  override def tables(): List[TableName] = synchronized {
    query("SELECT table_name FROM graft_tables ORDER BY table_name") { rs =>
      TableName.parse(rs.getString(1)).toOption
    }.flatten
  }

  override def commit(table: TableName, update: TableUpdate): Unit =
    commitInternal(table, update, None)

  override def commitIf(table: TableName, update: TableUpdate, expectedHead: CommitId): Unit =
    commitInternal(table, update, Some(expectedHead))

  /** Multi-table atomic commit group — the STRONGEST of the three store
    * implementations: one serializable transaction carries every insert and
    * every CAS'd head update, so the group is atomic against concurrent
    * writers AND against crashes (the database either committed all of it
    * or none — no partial-group caveat here, unlike the file store's
    * two-phase locks). A moved head turns its ref UPDATE into a zero-row
    * change; the whole transaction rolls back and [[CommitConflictError]]
    * names the actual head. */
  override def commitGroup(commits: List[(TableName, TableUpdate, CommitId)]): Unit =
    synchronized {
      require(commits.nonEmpty, "commitGroup needs at least one commit")
      require(commits.map(_._1).distinct.size == commits.size,
        "commitGroup: tables must be distinct")
      commits.foreach { case (t, _, _) => if (!exists(t)) throw UnknownTableError(t) }
      try {
        commits.foreach { case (t, u, _) => insertUpdate(t, u) }
        commits.foreach { case (t, u, expected) =>
          val changed = withStatement { st =>
            st.executeUpdate(
              s"""UPDATE graft_version_refs SET current_commit = '${esc(u.metadata.id.id)}'
                 |WHERE table_name = '${esc(t.fullyQualifiedName)}'
                 |  AND current_commit = '${esc(expected.id)}'""".stripMargin)
          }
          if (changed == 0) {
            val actual = queryIn(
              s"""SELECT current_commit FROM graft_version_refs
                 |WHERE table_name = '${esc(t.fullyQualifiedName)}'""".stripMargin)(_.getString(1))
              .headOption
            conn.rollback()
            throw CommitConflictError(t, expected,
              CommitId(actual.getOrElse(throw UnknownTableError(t))))
          }
        }
        commits.foreach { case (t, _, _) => maybeCheckpoint(t) }
        conn.commit()
      } catch {
        case e: CommitConflictError => throw e
        case e: Throwable           => conn.rollback(); throw e
      }
    }

  private def commitInternal(
      table: TableName, update: TableUpdate, expectedHead: Option[CommitId]): Unit =
    synchronized {
      if (!exists(table)) throw UnknownTableError(table)
      try {
        // the CAS variant guards the head-ref UPDATE inside the serializable
        // transaction: zero rows changed means the head moved (or never was
        // expectedHead) — the insert rolls back with it, so a conflict
        // leaves no trace
        insertUpdate(table, update)
        val guard = expectedHead.map(h => s" AND current_commit = '${esc(h.id)}'").getOrElse("")
        val changed = withStatement { st =>
          st.executeUpdate(
            s"""UPDATE graft_version_refs SET current_commit = '${esc(update.metadata.id.id)}'
               |WHERE table_name = '${esc(table.fullyQualifiedName)}'$guard""".stripMargin)
        }
        if (changed == 0) {
          expectedHead match {
            case Some(h) =>
              // read the actual head INSIDE the same (serializable)
              // transaction — non-committing, so the rollback below still
              // undoes the orphan insert — then end the transaction before
              // throwing: the shared autocommit-off connection must never be
              // left inside an open transaction
              val actual = queryIn(
                s"""SELECT current_commit FROM graft_version_refs
                   |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_.getString(1))
                .headOption
              conn.rollback()
              throw CommitConflictError(table, h,
                CommitId(actual.getOrElse(throw UnknownTableError(table))))
            case None =>
              // unguarded update touching zero rows = missing ref row
              conn.rollback()
              sys.error(s"Corrupt store: no version ref row for '$table'")
          }
        }
        maybeCheckpoint(table)
        conn.commit()
      } catch {
        case e: CommitConflictError => throw e
        case e: Throwable           => conn.rollback(); throw e
      }
    }

  override def setCurrentVersion(table: TableName, id: CommitId): Unit = synchronized {
    if (!exists(table)) throw UnknownTableError(table)
    val known = query(
      s"""SELECT 1 FROM graft_updates WHERE commit_id = '${esc(id.id)}'
         |AND table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_ => true)
    if (known.isEmpty) throw UnknownCommitError(id)
    try {
      withStatement { st =>
        st.executeUpdate(
          s"""UPDATE graft_version_refs SET current_commit = '${esc(id.id)}'
             |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)
      }
      conn.commit()
    } catch { case e: Throwable => conn.rollback(); throw e }
  }

  override def tags(table: TableName): List[(String, CommitId)] = synchronized {
    if (!exists(table)) throw UnknownTableError(table)
    query(
      s"""SELECT tag_name, commit_id FROM graft_tags
         |WHERE table_name = '${esc(table.fullyQualifiedName)}'
         |ORDER BY tag_name""".stripMargin)(rs => rs.getString(1) -> CommitId(rs.getString(2)))
  }

  override def createTag(table: TableName, name: String, at: CommitId): Unit = synchronized {
    VersionTracker.requireValidTagName(name)
    if (!exists(table)) throw UnknownTableError(table)
    val known = query(
      s"""SELECT 1 FROM graft_updates WHERE commit_id = '${esc(at.id)}'
         |AND table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_ => true)
    if (known.isEmpty) throw UnknownCommitError(at)
    try {
      withStatement { st =>
        st.executeUpdate(
          s"""INSERT INTO graft_tags VALUES ('${esc(table.fullyQualifiedName)}',
             |'${esc(name)}', '${esc(at.id)}')""".stripMargin)
      }
      conn.commit()
    } catch {
      // PK violation = the tag already exists (tags are immutable)
      case e: java.sql.SQLIntegrityConstraintViolationException =>
        conn.rollback(); throw TagExistsError(table, name)
      case e: Throwable => conn.rollback(); throw e
    }
  }

  override def deleteTag(table: TableName, name: String): Unit = synchronized {
    VersionTracker.requireValidTagName(name)
    if (!exists(table)) throw UnknownTableError(table)
    try {
      val n = withStatement { st =>
        st.executeUpdate(
          s"""DELETE FROM graft_tags WHERE table_name = '${esc(table.fullyQualifiedName)}'
             |AND tag_name = '${esc(name)}'""".stripMargin)
      }
      conn.commit()
      if (n == 0) throw UnknownTagError(table, name)
    } catch {
      case e: UnknownTagError => throw e
      case e: Throwable       => conn.rollback(); throw e
    }
  }

  /** O(1) ref read: one indexed SELECT on the version-refs table. */
  override def currentRef(table: TableName): CommitId = synchronized {
    query(
      s"""SELECT current_commit FROM graft_version_refs
         |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_.getString(1))
      .headOption.map(CommitId(_)).getOrElse(throw UnknownTableError(table))
  }

  /** Paged history straight from SQL: metadata columns only (no operations
    * join, no checkpoint read), ordered by the monotonic `sequence_id` DESC
    * with OFFSET/FETCH — the database touches O(page) rows however long the
    * log has grown. */
  override def updates(table: TableName, limit: Int, offset: Int): List[TableUpdateMetadata] =
    synchronized {
      VersionTracker.requireValidPage(limit, offset)
      if (!exists(table)) throw UnknownTableError(table)
      if (limit == 0) Nil // Derby's FETCH clause requires n >= 1
      else query(
        s"""SELECT commit_id, user_id, message, created_at FROM graft_updates
           |WHERE table_name = '${esc(table.fullyQualifiedName)}'
           |ORDER BY sequence_id DESC
           |OFFSET $offset ROWS FETCH NEXT $limit ROWS ONLY""".stripMargin) { rs =>
        TableUpdateMetadata(CommitId(rs.getString(1)), UserId(rs.getString(2)),
          rs.getString(3), rs.getTimestamp(4).toInstant)
      }
    }

  /** Keyset page straight from SQL: the cursor is the last-seen
    * `sequence_id`, and the page is the `limit` newest rows strictly BELOW
    * it — `sequence_id` is a monotonic identity, so a commit landing between
    * page reads (a HIGHER id) can never shift the window, unlike OFFSET
    * paging. O(page) rows via the primary-key index, metadata columns only. */
  override def updatesPage(
      table: TableName, limit: Int, after: Option[String]): (List[TableUpdateMetadata], Option[String]) =
    synchronized {
      VersionTracker.requireValidPage(limit, 0)
      if (!exists(table)) throw UnknownTableError(table)
      if (limit == 0) (Nil, after)
      else {
        val anchor = after.map(tok => tok.toLongOption.getOrElse(
          throw new IllegalArgumentException(s"Bad page cursor '$tok': not a sequence id")))
        val cond = anchor.map(seq => s" AND sequence_id < $seq").getOrElse("")
        val rows = query(
          s"""SELECT sequence_id, commit_id, user_id, message, created_at FROM graft_updates
             |WHERE table_name = '${esc(table.fullyQualifiedName)}'$cond
             |ORDER BY sequence_id DESC
             |FETCH NEXT $limit ROWS ONLY""".stripMargin) { rs =>
          (rs.getLong(1), TableUpdateMetadata(CommitId(rs.getString(2)), UserId(rs.getString(3)),
            rs.getString(4), rs.getTimestamp(5).toInstant))
        }
        (rows.map(_._2), if (rows.size < limit) None else rows.lastOption.map(_._1.toString))
      }
    }

  /** Ascending keyset page straight from SQL: the cursor is the last-seen
    * `sequence_id`; the page is the `limit` OLDEST rows strictly above it.
    * Two O(page) indexed queries — the page's sequence-id window, then the
    * operations join bounded to that window — so a bulk consumer (export)
    * walks the whole log without ever materializing it. Rows fetched count
    * into [[historyRowsScanned]] like every other history read. */
  override def commitsPageAsc(
      table: TableName, limit: Int, after: Option[String]): (List[TableUpdate], Option[String]) =
    synchronized {
      VersionTracker.requireValidPage(limit, 0)
      if (!exists(table)) throw UnknownTableError(table)
      if (limit == 0) (Nil, after)
      else {
        val anchor = after.map(tok => tok.toLongOption.getOrElse(
          throw new IllegalArgumentException(s"Bad page cursor '$tok': not a sequence id"))).getOrElse(0L)
        try {
          val seqs = queryIn(
            s"""SELECT sequence_id FROM graft_updates
               |WHERE table_name = '${esc(table.fullyQualifiedName)}' AND sequence_id > $anchor
               |ORDER BY sequence_id
               |FETCH NEXT $limit ROWS ONLY""".stripMargin)(_.getLong(1))
          val out =
            if (seqs.isEmpty) (List.empty[TableUpdate], None)
            else {
              val rows = historyRowsIn(table, anchor, upToSeq = Some(seqs.last))
              historyRowsScanned += rows.length
              val page = decodeUpdates(table, rows)
              (page, if (page.size < limit) None else Some(seqs.last.toString))
            }
          conn.commit()
          out
        } catch { case e: Throwable => conn.rollback(); throw e }
      }
    }

  /** O(1): one indexed read of the tables row — the default trait
    * implementation would materialize the whole history for this. */
  override def isSnapshotTable(table: TableName): Boolean = synchronized {
    query(
      s"""SELECT is_snapshot FROM graft_tables
         |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_.getBoolean(1))
      .headOption.getOrElse(throw UnknownTableError(table))
  }

  private case class Row(commitId: String, user: String, msg: String, ts: Instant,
      opType: String, part: String, ver: String, snap: Boolean, extra: String)

  override def tableState(table: TableName): TableState = synchronized {
    if (!exists(table)) throw UnknownTableError(table)
    try {
      // checkpointed prefix + only the rows PAST the checkpoint boundary —
      // sequence_id is a monotonic identity, so the checkpoint covers an
      // exact history prefix and the tail query is O(commits since it)
      val (fromSeq, prefix) = loadCheckpointIn(table).getOrElse((0L, List.empty[TableUpdate]))
      val rows = historyRowsIn(table, fromSeq)
      historyRowsScanned += rows.length
      val tail = decodeUpdates(table, rows)
      val head = queryIn(
        s"""SELECT current_commit FROM graft_version_refs
           |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_.getString(1))
        .headOption.getOrElse(throw UnknownTableError(table))
      conn.commit()
      TableState(CommitId(head), prefix ++ tail)
    } catch { case e: Throwable => conn.rollback(); throw e }
  }

  /**
   * Current visible state without materializing the history: reads the fold
   * row (folded `TableVersion` at the checkpoint boundary) plus only the
   * updates/operations rows PAST the boundary, and
   * [[TableState.foldForward]]s the tail onto it — the driver holds O(tail)
   * updates + O(partitions) state, never the full log (the JDBC face of the
   * same bounded-memory fold the file store's fold documents provide; the
   * eager analogue of the reference's streamed history, reference
   * VersionTracker.scala:137-151). Tail rows fetched are counted in
   * [[historyRowsScanned]], which is what the O(tail) law asserts on.
   * Falls back to the full [[tableState]] replay when there is no fold row
   * yet, it fails to parse, or the head ref points INSIDE the covered prefix
   * (a checkout into checkpointed history).
   */
  override def currentVersion(table: TableName): TableVersion = {
    val fast = synchronized {
      if (!exists(table)) throw UnknownTableError(table)
      try {
        val out = foldedResolvedIn(table).map { case (_, doc, tailUpToHead) =>
          TableState.foldForward(doc.state, tailUpToHead)
        }
        conn.commit()
        out
      } catch { case e: Throwable => conn.rollback(); throw e }
    }
    fast.getOrElse(super.currentVersion(table))
  }

  /** [[VersionTracker.headState]] from "fold row + tail rows" — the JDBC
    * face of the file store's fold-doc fast path, same equivalence guards,
    * same pre-upgrade fallback (a fold row without the read-side extras
    * replays the full history rather than fabricate an empty base map). */
  override def headState(table: TableName): HeadState = {
    val fast = synchronized {
      if (!exists(table)) throw UnknownTableError(table)
      try {
        val out = foldedResolvedIn(table).flatMap { case (head, doc, tailUpToHead) =>
          doc.resolved.map { extras =>
            val schema = TableState.lastSchemaJson(tailUpToHead).orElse(extras.schemaJson)
            val bases = extras.bases ++ TableState.basesOf(tailUpToHead)
            HeadState(CommitId(head),
              TableState.foldForward(doc.state, tailUpToHead), schema, bases)
          }
        }
        conn.commit()
        out
      } catch { case e: Throwable => conn.rollback(); throw e }
    }
    fast.getOrElse(super.headState(table))
  }

  /** Bounded [[VersionTracker.versionAt]] — fold row + tail up to `id`
    * (the post-commit pin path); ids inside the covered prefix replay. */
  override def versionAt(table: TableName, id: CommitId): TableVersion = {
    val fast = synchronized {
      if (!exists(table)) throw UnknownTableError(table)
      try {
        val out = foldedResolvedIn(table, Some(id.id)).map { case (_, doc, tailUpToId) =>
          TableState.foldForward(doc.state, tailUpToId)
        }
        conn.commit()
        out
      } catch { case e: Throwable => conn.rollback(); throw e }
    }
    fast.getOrElse(super.versionAt(table, id))
  }

  private def foldedResolvedIn(
      table: TableName,
      target: Option[String] = None): Option[(String, JsonCodecs.FoldDoc, List[TableUpdate])] =
    queryIn(
      s"""SELECT sequence_id, last_commit_id, folded FROM graft_state_folds
         |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin) { rs =>
      (rs.getLong(1), rs.getString(2), rs.getString(3))
    }.headOption.flatMap { case (seq, lastId, json) =>
      JsonCodecs.foldDocFromJson(json) match {
        case Left(err) =>
          GraftLog.warn("corrupt_state_fold", "store" -> "jdbc", "table" -> table, "error" -> err,
            "fallback" -> "commit_replay")
          None
        case Right(doc) =>
          val head = target.getOrElse(queryIn(
            s"""SELECT current_commit FROM graft_version_refs
               |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin)(_.getString(1))
            .headOption.getOrElse(throw UnknownTableError(table)))
          if (head == lastId) Some((head, doc, Nil))
          else {
            val rows = historyRowsIn(table, seq)
            historyRowsScanned += rows.length
            val tail = decodeUpdates(table, rows)
            val idx = tail.indexWhere(_.metadata.id.id == head)
            if (idx < 0) None // checkout into the covered prefix
            else Some((head, doc, tail.take(idx + 1)))
          }
      }
    }

  // ---- history + checkpoint helpers (all run INSIDE the caller's
  // transaction: non-committing reads, the caller commits or rolls back) ----

  /** One ordered join, rows past `afterSeq` only, grouped adjacently into
    * commits by [[decodeUpdates]] (reference DbVersionTracker.scala:239-256 +
    * :67-84). LEFT JOIN, not INNER: a commit with an empty operations list is
    * still a commit (the other trackers keep it; a checkout to it must replay
    * to it). */
  private def historyRowsIn(
      table: TableName, afterSeq: Long, upToSeq: Option[Long] = None): List[Row] = {
    val upper = upToSeq.map(s => s" AND u.sequence_id <= $s").getOrElse("")
    queryIn(
      s"""SELECT u.commit_id, u.user_id, u.message, u.created_at,
         |  o.op_type, o.partition_path, o.version_label, o.is_snapshot, o.extra_doc
         |FROM graft_updates u LEFT OUTER JOIN graft_operations o ON u.commit_id = o.commit_id
         |WHERE u.table_name = '${esc(table.fullyQualifiedName)}'
         |  AND u.sequence_id > $afterSeq$upper
         |ORDER BY u.sequence_id, o.index_in_commit""".stripMargin) { rs =>
      Row(rs.getString(1), rs.getString(2), rs.getString(3), rs.getTimestamp(4).toInstant,
        rs.getString(5), rs.getString(6), rs.getString(7), rs.getBoolean(8), rs.getString(9))
    }
  }

  private def decodeUpdates(table: TableName, rows: List[Row]): List[TableUpdate] =
    groupAdjacent(rows)(_.commitId).map { group =>
      val h = group.head
      TableUpdate(
        TableUpdateMetadata(CommitId(h.commitId), UserId(h.user), h.msg, h.ts),
        group.filter(_.opType != null).map(decodeOp(table, _)))
    }

  /** The checkpoint row, parsed: (covered max sequence_id, folded prefix).
    * A corrupt/unparseable state document degrades to None (full scan) with
    * a warning — same never-brick policy as the file store's checkpoints. */
  private def loadCheckpointIn(table: TableName): Option[(Long, List[TableUpdate])] =
    queryIn(
      s"""SELECT sequence_id, state FROM graft_checkpoints
         |WHERE table_name = '${esc(table.fullyQualifiedName)}'""".stripMargin) { rs =>
      (rs.getLong(1), rs.getString(2))
    }.headOption.flatMap { case (seq, json) =>
      JsonCodecs.checkpointFromJson(json) match {
        case Right((_, updates)) => Some((seq, updates))
        case Left(err) =>
          GraftLog.warn("corrupt_state_checkpoint", "store" -> "jdbc", "table" -> table,
            "error" -> err, "fallback" -> "commit_scan")
          None
      }
    }

  /** Runs inside the commit transaction, after the head-ref update and
    * before the caller's `conn.commit()` — the checkpoint lands atomically
    * with the commit that triggered it. Every `checkpointInterval` commits
    * past the last checkpoint, fold the ENTIRE history (checkpoint prefix +
    * tail as of this transaction) into one document; the full read is paid
    * once per interval, amortizing to O(1) extra rows per commit. */
  private def maybeCheckpoint(table: TableName): Unit =
    try {
      val tbl = esc(table.fullyQualifiedName)
      // one query per commit: tail count past the checkpoint (0 if none)
      val tailCount = queryIn(
        s"""SELECT COUNT(*) FROM graft_updates WHERE table_name = '$tbl'
           |AND sequence_id > COALESCE(
           |  (SELECT sequence_id FROM graft_checkpoints WHERE table_name = '$tbl'), 0)""".stripMargin)(
        _.getLong(1)).head
      if (tailCount >= checkpointInterval) {
        val cp = loadCheckpointIn(table)
        val (cpSeq, prefix) = cp.getOrElse((0L, List.empty[TableUpdate]))
        val updates = prefix ++ decodeUpdates(table, historyRowsIn(table, cpSeq))
        val maxSeq = queryIn(
          s"SELECT MAX(sequence_id) FROM graft_updates WHERE table_name = '$tbl'")(_.getLong(1)).head
        val json = JsonCodecs.checkpointToJson(updates.map(_.metadata.id.id), updates)
        val up = conn.prepareStatement(
          "UPDATE graft_checkpoints SET sequence_id = ?, state = ? WHERE table_name = ?")
        val changed =
          try {
            up.setLong(1, maxSeq); up.setString(2, json)
            up.setString(3, table.fullyQualifiedName)
            up.executeUpdate()
          } finally up.close()
        if (changed == 0) {
          val ins = conn.prepareStatement("INSERT INTO graft_checkpoints VALUES (?,?,?)")
          try {
            ins.setString(1, table.fullyQualifiedName)
            ins.setLong(2, maxSeq); ins.setString(3, json)
            ins.executeUpdate()
          } finally ins.close()
        }
        // fold row beside the checkpoint — what currentVersion reads instead
        // of the O(#commits) history (see the currentVersion override)
        val foldJson = JsonCodecs.foldDocToJson(
          maxSeq.toString, updates.last.metadata.id.id, updates.length,
          TableState.foldVersion(updates),
          // read-side extras: recorded schema + DV base bindings at the
          // boundary — what headState folds the tail onto
          TableState.lastSchemaJson(updates), TableState.basesOf(updates))
        val fup = conn.prepareStatement(
          "UPDATE graft_state_folds SET sequence_id = ?, last_commit_id = ?, folded = ? WHERE table_name = ?")
        val foldChanged =
          try {
            fup.setLong(1, maxSeq); fup.setString(2, updates.last.metadata.id.id)
            fup.setString(3, foldJson); fup.setString(4, table.fullyQualifiedName)
            fup.executeUpdate()
          } finally fup.close()
        if (foldChanged == 0) {
          val fins = conn.prepareStatement("INSERT INTO graft_state_folds VALUES (?,?,?,?)")
          try {
            fins.setString(1, table.fullyQualifiedName)
            fins.setLong(2, maxSeq); fins.setString(3, updates.last.metadata.id.id)
            fins.setString(4, foldJson)
            fins.executeUpdate()
          } finally fins.close()
        }
      }
    } catch {
      // checkpointing is an optimization; a failure must never fail the
      // commit it rides in (same policy as the file store) — e.g. an
      // undecodable row in an imported history would otherwise brick every
      // commit once the interval trips. If the failure ABORTED the
      // underlying transaction (lock timeout), the commit still fails at
      // conn.commit() — correctly, since the user's rows rolled back too.
      case e: Exception =>
        GraftLog.warn("state_checkpoint_failed", "store" -> "jdbc", "table" -> table, "error" -> e)
    }

  // ---- helpers ----

  private def insertUpdate(table: TableName, update: TableUpdate): Unit = {
    val m = update.metadata
    val ps = conn.prepareStatement(
      "INSERT INTO graft_updates (commit_id, table_name, user_id, message, created_at) VALUES (?,?,?,?,?)")
    try {
      ps.setString(1, m.id.id); ps.setString(2, table.fullyQualifiedName)
      ps.setString(3, m.userId.value); ps.setString(4, m.message)
      ps.setTimestamp(5, java.sql.Timestamp.from(m.timestamp))
      ps.executeUpdate()
    } finally ps.close()
    val po = conn.prepareStatement(
      "INSERT INTO graft_operations " +
        "(commit_id, index_in_commit, op_type, partition_path, version_label, is_snapshot, extra_doc) " +
        "VALUES (?,?,?,?,?,?,?)")
    try update.operations.zipWithIndex.foreach { case (op, i) =>
      po.setString(1, m.id.id); po.setInt(2, i)
      po.setNull(7, java.sql.Types.CLOB)
      op match {
        case TableOperation.InitTable(_, snap) =>
          po.setString(3, "init-table"); po.setNull(4, java.sql.Types.VARCHAR)
          po.setNull(5, java.sql.Types.VARCHAR); po.setBoolean(6, snap)
        case TableOperation.AddTableVersion(v) =>
          po.setString(3, "add-table-version"); po.setNull(4, java.sql.Types.VARCHAR)
          po.setString(5, v.label); po.setNull(6, java.sql.Types.BOOLEAN)
        case TableOperation.AddPartitionVersion(p, v) =>
          po.setString(3, "add-partition-version"); po.setString(4, p.toHivePath)
          po.setString(5, v.label); po.setNull(6, java.sql.Types.BOOLEAN)
        case TableOperation.RemovePartition(p) =>
          po.setString(3, "remove-partition"); po.setString(4, p.toHivePath)
          po.setNull(5, java.sql.Types.VARCHAR); po.setNull(6, java.sql.Types.BOOLEAN)
        case TableOperation.SetTableSchema(json) =>
          po.setString(3, "set-table-schema"); po.setNull(4, java.sql.Types.VARCHAR)
          po.setNull(5, java.sql.Types.VARCHAR); po.setNull(6, java.sql.Types.BOOLEAN)
          po.setString(7, json)
        case TableOperation.SetVersionBase(p, v, base) =>
          po.setString(3, "set-version-base"); po.setString(4, p.toHivePath)
          po.setString(5, v.label); po.setNull(6, java.sql.Types.BOOLEAN)
          po.setString(7, base.label)
      }
      po.executeUpdate()
    } finally po.close()
  }

  private def decodeOp(table: TableName, r: Row): TableOperation =
    r.opType match {
      case "init-table" => TableOperation.InitTable(table, r.snap)
      case "add-table-version" =>
        TableOperation.AddTableVersion(Version.parse(r.ver).fold(sys.error, identity))
      case "add-partition-version" =>
        TableOperation.AddPartitionVersion(
          Partition.parseEscaped(r.part).fold(sys.error, identity),
          Version.parse(r.ver).fold(sys.error, identity))
      case "remove-partition" =>
        TableOperation.RemovePartition(Partition.parseEscaped(r.part).fold(sys.error, identity))
      case "set-table-schema" =>
        TableOperation.SetTableSchema(r.extra)
      case "set-version-base" =>
        TableOperation.SetVersionBase(
          Partition.parseEscaped(r.part).fold(sys.error, identity),
          Version.parse(r.ver).fold(sys.error, identity),
          Version.parse(r.extra).fold(sys.error, identity))
      case other => sys.error(s"Unknown op type in store: '$other'")
    }

  private def groupAdjacent[A, K](xs: List[A])(key: A => K): List[List[A]] =
    xs.foldRight(List.empty[List[A]]) {
      case (a, (group @ (h :: _)) :: rest) if key(h) == key(a) => (a :: group) :: rest
      case (a, acc) => List(a) :: acc
    }

  private def exists(table: TableName): Boolean =
    query(s"SELECT 1 FROM graft_tables WHERE table_name = '${esc(table.fullyQualifiedName)}'")(_ => true).nonEmpty

  private def withStatement[A](f: Statement => A): A = {
    val st = conn.createStatement()
    try f(st) finally st.close()
  }

  /** Standalone read: ends the read transaction when done (commit on
    * success, rollback on failure — either way the connection is left
    * outside a transaction). */
  private def query[A](sql: String)(f: ResultSet => A): List[A] = {
    val out =
      try queryIn(sql)(f)
      catch { case e: Throwable => conn.rollback(); throw e }
    conn.commit()
    out
  }

  /** Read WITHOUT ending the transaction — for use inside a caller-managed
    * transaction (commit path, tableState) where a commit here would
    * prematurely publish, or a conflict path where it would prevent the
    * rollback of, the caller's writes. */
  private def queryIn[A](sql: String)(f: ResultSet => A): List[A] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try Iterator.continually(rs).takeWhile(_.next()).map(f).toList
      finally rs.close()
    } finally st.close()
  }

  private def esc(s: String): String = s.replace("'", "''")

  def close(): Unit = conn.close()
}

object JdbcVersionTracker {
  /** Full-history fold every N commits — the same default cadence as the
    * file store's checkpoints: frequent enough that `tableState` never reads
    * more than N commits' rows, rare enough that the fold cost amortizes to
    * O(1) rows per commit. */
  val DefaultCheckpointInterval: Int = FileBackedVersionTracker.DefaultCheckpointInterval
}
