package graft.cli

import graft.core._
import graft.sources.{FileBackedVersionTracker, JdbcVersionTracker}

import java.net.URI
import java.time.Instant

/**
 * Command-line administration of the version store — the reference's CLI
 * surface (`cli/src/main/scala/dev/chronicles/cli/ChroniclesCli.scala:95-158`)
 * re-expressed as a plain main with hand-rolled parsing (no arg-parse library
 * in the offline environment):
 *
 * {{{
 *   graft-cli --store <uri> tables
 *   graft-cli --store <uri> init <schema.table> [--isSnapshot] [--user U] [--message M]
 *   graft-cli --store <uri> log <schema.table> [limit [offset]]
 *   graft-cli --store <uri> partitions <schema.table>
 *   graft-cli --store <uri> partition add <schema.table> <col=val[/col2=v2]> [--user U] [--message M]
 *   graft-cli --store <uri> partition remove <schema.table> <col=val[/...]> [--user U] [--message M]
 *   graft-cli --store <uri> checkout <schema.table> <commitId>
 *   graft-cli --store <uri> restore <schema.table> <ref> [--user U] [--message M]   # durable rollback: commits the tip->ref diff
 *   graft-cli --store <uri> tag <schema.table> <name> [commitId]   # default: current head
 *   graft-cli --store <uri> tags <schema.table>
 *   graft-cli --store <uri> untag <schema.table> <name>
 *   graft-cli --store <uri> changes <schema.table> <fromCommitId> <toCommitId>
 *   graft-cli --store <uri> row-changes <schema.table> <tableLocation> <fromCommitId> <toCommitId> --keys k1[,k2] --out <dir> [--partition-by c1,c2] [--format F]
 *   graft-cli --store <uri> analyze <schema.table> <tableLocation> --stats-columns c1[,c2] [--bloom-keys k1,k2] [--partition-by c1,c2]   # backfill stats manifests
 *   graft-cli --store <uri> stats <schema.table> <tableLocation> [--partition-by c1,c2]
 *   graft-cli --store <uri> stats-checkpoint <schema.table> <tableLocation> [--partition-by c1,c2]
 *   graft-cli --store <uri> vacuum <schema.table> <location> [--keep-last N] [--apply]
 *   graft-cli --store <uri> migrate
 *   graft-cli --store <uri> export <destUri>
 *   graft-cli --store <uri> sync <destUri>
 *   graft-cli --store <uri> stage <schema.table> <tableLocation> <sourceUri> [--partition-by c1,c2] [--format F] [--source-format F]
 *   graft-cli --store <uri> audit <schema.table> <tableLocation> <versionLabel> --check <spec> [--check <spec> ...] [--partition-by c1,c2] [--format F]
 *   graft-cli --store <uri> publish <schema.table> <tableLocation> <versionLabel> [--check <spec> ...] [--partition-by c1,c2] [--format F]
 *   # audit/publish recover --partition-by from the stage's manifest when omitted; --format still defaults to parquet
 *   graft-cli --store <uri> delete <schema.table> <tableLocation> --where <sql predicate> [--dv] [--partition-by c1,c2] [--format F]
 *   graft-cli --store <uri> update <schema.table> <tableLocation> --where <sql predicate> --set col=expr [--set col=expr ...] [--dv] [--partition-by c1,c2] [--format F]
 *   # --dv = merge-on-read (deletion vectors): positions (and post-images) written, zero base bytes rewritten
 *   graft-cli --store <uri> merge <schema.table> <tableLocation> <sourceUri> --keys k1[,k2] [--delete-when <sql predicate>] [--partition-by c1,c2] [--format F] [--source-format F]
 *   graft-cli --store <uri> optimize <schema.table> <tableLocation> [--where <partition predicate>] [--zorder c1,c2] [--files N] [--fold-dv] [--partition-by c1,c2] [--format F]
 *   graft-cli --store <uri> publish-group <t1> <loc1> <label1> [<t2> <loc2> <label2> ...]   # atomic multi-table publish
 *   # checkout/changes REF arguments accept a commit id, a tag name, or a timestamp (latest commit at or before)
 *   # every Spark-backed verb accepts --merge-schema for tables evolved with
 *   # versionedInsertIntoEvolving (mixed file schemas need footer-merged reads)
 * }}}
 * `--store` may be omitted when `GRAFT_STORE` is set or a config file exists
 * (`--config <path>`, default `~/.graft/config`): a simple `key: value` file
 * with `store:`/`user:` bindings, also accepting the reference's
 * `type: db-config` shape (ChroniclesCli.scala:21,52-81; docs/usage.md:60-76).
 *
 * All commands are metadata-only (no Spark, no data movement), matching the
 * reference CLI which operates purely on the version store — except `vacuum
 * --apply` (Hadoop FS deletes of expired `_version=` directories;
 * report-only without `--apply`), `stats` (plain Hadoop FS reads of the
 * data-skipping manifests, still no Spark), the Spark-backed `merge` and
 * `row-changes` verbs, and the three write-audit-publish verbs,
 * which spin up a local SparkSession on demand: `stage` writes a source
 * dataset to an UNCOMMITTED version (invisible to readers; abandoning it
 * costs nothing — vacuum-reclaimable debris), `audit` runs declarative
 * [[graft.operators.Expectations]] checks against exactly the staged files
 * (exit 1 on violations), and `publish` commits the staged version — each
 * invocation a separate process, re-attached through
 * [[graft.operators.VersionedTables.findStaged]]. `publish --check ...`
 * re-audits atomically before committing and refuses on a failing report.
 * Check spec grammar: `not-null:c1,c2` | `unique:c1,c2` |
 * `unique-approx:c1,c2[@rsd]` | `in-range:col:lo:hi` |
 * `satisfies:name:<sql-expr>`.
 */
object GraftCli {

  def main(args: Array[String]): Unit =
    run(args.toList, new java.io.PrintWriter(System.out, true)) match {
      case 0 => ()
      case code => sys.exit(code)
    }

  /** Testable entry: returns exit code, writes to `out`. */
  def run(argv: List[String], out: java.io.PrintWriter): Int = {
    val (flags, positional) = parseFlags(argv)
    // store resolution precedence: --store flag > GRAFT_STORE env > config
    // file (--config <path>, default ~/.graft/config — the reference reads
    // ~/.chronicles/config the same way, ChroniclesCli.scala:21,52-81)
    val config = loadConfig(flags.get("config")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(sys.props.getOrElse("user.home", "."), ".graft", "config")))
    val store = flags.get("store").orElse(sys.env.get("GRAFT_STORE"))
      .orElse(storeFromConfig(config)) match {
      case Some(s) => s
      case None => out.println("error: --store <uri> (or GRAFT_STORE, or a 'store'/db config in ~/.graft/config) is required"); return 2
    }
    val user = UserId(flags.get("user").orElse(config.get("user"))
      .orElse(sys.props.get("user.name")).getOrElse("unknown"))
    val message = flags.getOrElse("message", "")
    // store scheme selects the backend: jdbc:... -> relational commit log,
    // anything else -> file-backed JSON log on a Hadoop FileSystem
    lazy val tracker: VersionTracker =
      if (store.startsWith("jdbc:")) new JdbcVersionTracker(store)
      else new FileBackedVersionTracker(new URI(store))

    def withTable(name: String)(f: TableName => Int): Int =
      TableName.parse(name) match {
        case Right(t) => f(t)
        case Left(err) => out.println(s"error: $err"); 2
      }

    def withPartition(s: String)(f: Partition => Int): Int =
      Partition.parse(s) match {
        case Right(p) => f(p)
        case Left(err) => out.println(s"error: $err"); 2
      }

    // one REF resolution for checkout/restore/changes, matching the SQL
    // surface: TAG name FIRST (tags are the durable pins, and SQL VERSION
    // AS OF is tag-first — "the tag wins" on a tag named like a commit id,
    // so one token can never mean different commits on different
    // surfaces), then exact commit id, then TIMESTAMP (ISO-8601 instant /
    // local date-time / date, UTC) via TableState.commitIdAsOf — the
    // shared latest-commit-at-or-before rule. Anything unparseable passes
    // through as a commit id and fails with the standard
    // UnknownCommitError.
    def resolveRef(t: TableName, token: String): CommitId =
      tracker.tags(t).collectFirst { case (`token`, id) => id }.getOrElse {
        val st = tracker.tableState(t)
        if (st.updates.exists(_.metadata.id.id == token)) CommitId(token)
        else parseRefInstant(token) match {
          case Some(ts) => st.commitIdAsOf(ts).getOrElse(
            throw new IllegalArgumentException(s"no commit at or before $token for $t"))
          case None => CommitId(token)
        }
      }

    // tracked-flavor cross-check shared by the Spark-backed write verbs
    // (stage/audit/publish/merge): a table definition whose flavor disagrees
    // with how the table was INITIALIZED produces operations that
    // VersionTracker.foldVersion silently ignores at commit — "published"
    // prints while the visible table never changes, and the staged label is
    // then stranded forever by the committed-label guard. Refuse loudly
    // instead. An uninitialized table passes through — its error surfaces
    // at the tracker call with the proper message.
    def flavorMismatch(t: TableName, table: TableDefinition): Option[String] =
      try {
        val trackedSnapshot = tracker.isSnapshotTable(t)
        if (!trackedSnapshot && table.isSnapshot)
          Some(s"${t.fullyQualifiedName} is a partitioned table — " +
            "this verb needs --partition-by c1[,c2...]")
        else if (trackedSnapshot && !table.isSnapshot)
          Some(s"${t.fullyQualifiedName} is a snapshot table — drop --partition-by")
        else None
      } catch { case _: Exception => None }

    def withFlavorChecked(t: TableName, table: TableDefinition)(f: => Int): Int =
      flavorMismatch(t, table) match {
        case Some(err) => out.println(s"error: $err"); 2
        case None      => f
      }

    // one parser for --keys k1[,k2...] (merge + row-changes): a fix here
    // reaches every keyed verb
    def keyList: Seq[String] =
      flags.get("keys").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

    try positional match {
      case List("tables") =>
        tracker.tables().foreach(t => out.println(t.fullyQualifiedName)); 0

      case List("init", name) => withTable(name) { t =>
        tracker.initTable(t, flags.contains("isSnapshot"), user,
          if (message.nonEmpty) message else s"init $name", Instant.now())
        out.println(s"initialised $name"); 0
      }

      // log <table> [limit [offset]] — an explicit limit/offset reads exactly
      // that one page (a single store read; no cross-page race to worry
      // about). The no-arg form prints the whole history through KEYSET
      // pages: each page anchors on the last-seen commit (file name /
      // sequence id), so a commit landing between page reads can't shift the
      // window — every commit prints exactly once even on a live log (the
      // old offset-paged loop could double-print a boundary entry), and a
      // 100k-commit streaming-sink table never materializes its full update
      // list in this process. Guard note: toIntOption (not isDigit) so an
      // over-Int.MaxValue page argument falls through to the usage error
      // instead of throwing.
      case "log" :: name :: pageArgs if pageArgs.length <= 2 &&
          pageArgs.forall(_.toIntOption.exists(_ >= 0)) => withTable(name) { t =>
        def show(m: graft.core.TableUpdateMetadata): Unit =
          out.println(s"${m.id.id}  ${m.timestamp}  ${m.userId.value}  ${m.message}")
        pageArgs match {
          case limit :: rest =>
            tracker.updates(t, limit.toInt, rest.headOption.fold(0)(_.toInt)).foreach(show)
          case Nil =>
            val pageSize = flags.get("page-size").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1000)
            var cursor: Option[String] = None
            var more = true
            while (more) {
              val (page, next) = tracker.updatesPage(t, pageSize, cursor)
              page.foreach(show)
              cursor = next
              more = next.isDefined
            }
        }
        0
      }

      case List("partitions", name) => withTable(name) { t =>
        tracker.currentVersion(t) match {
          case PartitionedTableVersion(pvs) =>
            pvs.toList.sortBy(_._1.toPath).foreach { case (p, v) =>
              out.println(s"${p.toPath}  ${v.label}")
            }; 0
          case SnapshotTableVersion(v) =>
            out.println(s"<snapshot table>  ${v.label}"); 0
        }
      }

      case List("partition", "add", name, part) => withTable(name) { t =>
        withPartition(part) { p =>
          val v = Version.generate()
          tracker.commit(t, TableUpdate(user,
            if (message.nonEmpty) message else s"add partition $part", Instant.now(),
            List(TableOperation.AddPartitionVersion(p, v))))
          out.println(s"added $part at version ${v.label}"); 0
        }
      }

      case List("partition", "remove", name, part) => withTable(name) { t =>
        withPartition(part) { p =>
          tracker.commit(t, TableUpdate(user,
            if (message.nonEmpty) message else s"remove partition $part", Instant.now(),
            List(TableOperation.RemovePartition(p))))
          out.println(s"removed $part"); 0
        }
      }

      // the ref argument accepts a commit id, a TAG name (tag-first, like
      // SQL VERSION AS OF) or a TIMESTAMP (latest commit at or before it —
      // TableState.commitIdAsOf, the one resolution SQL/Scala/CLI share)
      case List("checkout", name, ref) => withTable(name) { t =>
        val id = resolveRef(t, ref)
        tracker.setCurrentVersion(t, id)
        out.println(s"checked out ${id.id}"); 0
      }

      // DURABLE rollback: materialize the REF's state as a NEW commit
      // carrying the tip->target diff (VersionedMetastore.restore), so it
      // survives later writes — checkout is the ephemeral ref move
      case List("restore", name, ref) => withTable(name) { t =>
        val id = resolveRef(t, ref)
        val vm = new VersionedMetastore(tracker, new InMemoryMetastore)
        val (update, _) = vm.restore(t, id, user,
          if (message.nonEmpty) message else s"CLI restore to $ref")
        out.println(s"restored ${id.id} as ${update.metadata.id.id} " +
          s"(${update.operations.size} ops)"); 0
      }

      // tags: named immutable refs (training-data reproducibility pins).
      // `tag <table> <name>` pins the CURRENT head; an explicit commit id
      // pins any historical commit. Tagged states are protected from vacuum.
      case List("tag", name, tagName) => withTable(name) { t =>
        val head = tracker.tableState(t).currentVersion
        tracker.createTag(t, tagName, head)
        out.println(s"tagged $tagName -> ${head.id}"); 0
      }

      case List("tag", name, tagName, commitId) => withTable(name) { t =>
        tracker.createTag(t, tagName, CommitId(commitId))
        out.println(s"tagged $tagName -> $commitId"); 0
      }

      case List("tags", name) => withTable(name) { t =>
        tracker.tags(t).foreach { case (n, id) => out.println(s"$n  ${id.id}") }; 0
      }

      case List("untag", name, tagName) => withTable(name) { t =>
        tracker.deleteTag(t, tagName)
        out.println(s"deleted tag $tagName"); 0
      }

      // metadata-only diff of the visible state between two commits (what a
      // CDC consumer would process for the range) — same computeChanges the
      // metastore sync and readChangesBetween use
      case List("changes", name, from, to) => withTable(name) { t =>
        val st = tracker.tableState(t)
        val ops = Metastore.computeChanges(
          st.versionAt(resolveRef(t, from)), st.versionAt(resolveRef(t, to))).operations
        ops.foreach {
          case MetastoreOperation.AddPartition(p, v)           => out.println(s"add     ${p.toPath}  ${v.label}")
          case MetastoreOperation.UpdatePartitionVersion(p, v) => out.println(s"update  ${p.toPath}  ${v.label}")
          case MetastoreOperation.RemovePartition(p)           => out.println(s"remove  ${p.toPath}")
          case MetastoreOperation.UpdateTableVersion(v)        => out.println(s"update  <snapshot>  ${v.label}")
          case MetastoreOperation.UpdateSchema(_)              => out.println(s"schema  <widened>")
        }
        if (ops.isEmpty) out.println("no changes")
        0
      }

      // publish-group <t1> <loc1> <label1> [<t2> <loc2> <label2> ...] —
      // commit several staged labels (one per table, typically the N
      // outputs of one pipeline run) as ONE atomic commit group
      // (GroupCommitTracker): every head CASes on its publish-time value
      // and all tables advance together or none does. Partition schemas
      // recover from each stage's manifest like `publish`'s.
      case "publish-group" :: rest if rest.nonEmpty =>
        if (rest.size % 3 != 0) {
          out.println("error: publish-group needs <schema.table> <location> <label> triples")
          2
        } else {
          val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
          def resolveOne(n: String, loc: String, lbl: String)
              : Either[String, (graft.operators.VersionedTables.StagedWrite, CommitId)] =
            for {
              t <- TableName.parse(n)
              uri <- (try Right(new URI(loc)) catch {
                case e: java.net.URISyntaxException =>
                  Left(s"bad location '$loc': ${e.getMessage}")
              })
              prelim = TableDefinition(t, uri, PartitionSchema.snapshot,
                FileFormat(flags.getOrElse("format", "parquet")),
                options =
                  if (flags.contains("merge-schema")) Map("mergeSchema" -> "true")
                  else Map.empty[String, String])
              table = graft.operators.VersionedTables.readStagingManifest(
                  cliSpark().sparkContext.hadoopConfiguration, prelim.location, lbl)
                .flatMap(_.operations.collectFirst {
                  case TableOperation.AddPartitionVersion(p, _) =>
                    val cols = p.columnValues.map(_.column.name)
                    prelim.copy(partitionSchema = PartitionSchema(cols.head, cols.tail: _*))
                }).getOrElse(prelim)
              sw <- engine.findStaged(table, lbl, user,
                if (message.nonEmpty) message else s"publish-group $lbl")
            } yield (sw, tracker.currentRef(t))
          val resolved = rest.grouped(3).toList.map(g => resolveOne(g(0), g(1), g(2)))
          val errs = resolved.collect { case Left(e) => e }
          if (errs.nonEmpty) { errs.foreach(e => out.println(s"error: $e")); 2 }
          else {
            val stages = resolved.collect { case Right(x) => x }
            engine.publishAtomically(stages)
            stages.foreach { case (sw, _) =>
              out.println(
                s"published ${sw.table.name.fullyQualifiedName} ${tracker.currentRef(sw.table.name).id}")
            }
            0
          }
        }

      // retention: report (default) or physically delete (--apply) version
      // dirs outside the keep-last window. Metadata comes from the store;
      // the table LOCATION is an argument because the store tracks names and
      // commits, not paths (same as the reference's store).
      case List("vacuum", name, location) => withTable(name) { t =>
        val parsed = for {
          keepLast <- flags.get("keep-last") match {
            case None => Right(7)
            case Some(s) => s.toIntOption.filter(_ >= 1)
              .toRight(s"--keep-last must be a positive integer, got '$s'")
          }
          loc <- (try Right(new URI(location))
                  catch { case e: java.net.URISyntaxException => Left(s"bad location '$location': ${e.getMessage}") })
            .filterOrElse(u => !u.isOpaque && u.getPath != null,
              s"bad location '$location': not a hierarchical URI (missing '//' after the scheme?)")
        } yield (keepLast, loc)
        parsed match {
          case Left(err) => out.println(s"error: $err"); 2
          case Right((keepLast, loc)) =>
            val targets = graft.core.Retention.expirableVersionUris(
              tracker.tableState(t), loc, keepLast,
              pinned = tracker.tags(t).map(_._2))
            if (targets.isEmpty) { out.println("nothing expirable"); 0 }
            else if (!flags.contains("apply")) {
              targets.foreach(u => out.println(s"expirable  $u"))
              out.println(s"${targets.size} expirable (re-run with --apply to delete)"); 0
            } else {
              val conf = new org.apache.hadoop.conf.Configuration()
              val outcome = graft.sources.VersionJanitor.deleteVersionDirs(
                conf, loc, targets)
              outcome.deleted.foreach(u => out.println(s"deleted  $u"))
              outcome.failed.foreach { case (u, why) => out.println(s"failed   $u  ($why)") }
              // reclaim per-LABEL artifacts like engine.vacuum does: the
              // staging manifest always (committed versions never have one),
              // the stats manifest only when NO retained state still reads
              // the label through some partition
              val liveLabels = graft.core.Retention.liveVersionLabels(
                tracker.tableState(t), keepLast, pinned = tracker.tags(t).map(_._2))
              outcome.deleted.foreach { uri =>
                val label = graft.core.VersionPaths.parseVersion(uri)
                if (label != Version.Unversioned) {
                  graft.operators.VersionedTables.deleteStagingManifest(conf, loc, label.label)
                  if (!liveLabels.contains(label.label))
                    graft.operators.TableStats.deleteManifest(conf, loc, label.label)
                }
              }
              if (outcome.failed.isEmpty) 0 else 1
            }
        }
      }

      // the inverse of migrate: write this store's tables out as a store in
      // the reference's (chronicles) layout, readable by the reference
      case List("export", dest) => withDestUri(dest, out) { destUri =>
        val exported = graft.sources.ChroniclesExport.exportAllTables(tracker, destUri)
        if (exported.isEmpty) out.println("nothing to export")
        else exported.foreach(t => out.println(s"exported  ${t.fullyQualifiedName}"))
        0
      }

      // incremental catch-up of a previously exported store: appends only
      // the commits the destination is missing (O(delta) writes) and moves
      // its head_ref; absent tables degrade to a fresh export
      case List("sync", dest) => withDestUri(dest, out) { destUri =>
        val synced = graft.sources.ChroniclesExport.syncAllTables(tracker, destUri)
        if (synced.isEmpty) out.println("nothing to sync")
        else synced.foreach { case (t, n) => out.println(s"synced  ${t.fullyQualifiedName}  +$n") }
        0
      }

      // ---- write-audit-publish: the three Spark-backed verbs. Each CLI
      // invocation is its own process; audit/publish re-attach to the
      // staged version from its on-disk `_version=<label>` directories. ----
      case List("stage", name, location, source) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          withFlavorChecked(t, table) {
          import graft.operators.VersionedTables.DatasetVersionedOps
          val spark = cliSpark()
          val engine = new graft.operators.VersionedTables(spark, tracker)
          val df = spark.read.format(flags.getOrElse("source-format", table.format.name))
            .load(source)
          val stagedW = df.stageInsertInto(engine, table, user,
            if (message.nonEmpty) message else s"stage $source")
          out.println(s"staged  ${stagedW.version.label}")
          stagedW.partitions.foreach(p => out.println(s"  ${p.toPath}"))
          0
          }
        }
      }

      case List("audit", name, location, label) => withTable(name) { t =>
        withStagedTableDef(t, location, label, flags, out) { table =>
          withFlavorChecked(t, table) {
          withChecks(flags, out, allowEmpty = false) { checks =>
            val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
            engine.findStaged(table, label, user, message) match {
              case Left(err) => out.println(s"error: $err"); 2
              case Right(sw) =>
                val results = graft.operators.Expectations.audit(sw.staged, checks)
                results.foreach(r =>
                  out.println(s"${if (r.ok) "ok  " else "FAIL"}  ${r.check}  ${r.violations}"))
                if (results.forall(_.ok)) 0 else 1
            }
          }
          }
        }
      }

      case List("publish", name, location, label) => withTable(name) { t =>
        withStagedTableDef(t, location, label, flags, out) { table =>
          withFlavorChecked(t, table) {
          withChecks(flags, out, allowEmpty = true) { checks =>
            val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
            engine.findStaged(table, label, user,
              if (message.nonEmpty) message else s"publish $label") match {
              case Left(err) => out.println(s"error: $err"); 2
              case Right(sw) =>
                // re-audit at publish time when checks are given: the gate
                // and the commit in one invocation, a refused publish
                // leaves the stage as debris exactly like a failed audit
                val results =
                  if (checks.isEmpty) Nil
                  else graft.operators.Expectations.audit(sw.staged, checks)
                if (results.forall(_.ok)) {
                  sw.publish()
                  out.println(s"published ${tracker.currentRef(t).id}")
                  0
                } else {
                  results.filterNot(_.ok).foreach(r =>
                    out.println(s"FAIL  ${r.check}  ${r.violations}"))
                  out.println(s"refused: expectations failed, $label left staged")
                  1
                }
            }
          }
          }
        }
      }

      // merge <table> <location> <source> --keys k1[,k2...]
      //   [--delete-when <sql predicate>] [--source-format fmt]
      // Keyed MERGE INTO from the CLI: matched keys take the source row,
      // unmatched insert, TRUE-predicate rows delete — one CAS commit
      // (VersionedMerge semantics, partition-granular rewrite).
      case List("merge", name, location, source) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          val keys = keyList
          if (keys.isEmpty) {
            out.println("error: merge needs --keys k1[,k2...]"); 2
          } else withFlavorChecked(t, table) {
            import graft.operators.VersionedMerge._
            val spark = cliSpark()
            val engine = new graft.operators.VersionedTables(spark, tracker)
            val df = spark.read
              .format(flags.getOrElse("source-format", table.format.name))
              .load(source)
            val r = engine.mergeInto(table, df, keys, user,
              if (message.nonEmpty) message else s"merge $source",
              deleteWhen = flags.get("delete-when")
                .map(org.apache.spark.sql.functions.expr))
            out.println(s"merged  ${tracker.currentRef(t).id}")
            r.rewritten.foreach(p => out.println(s"  rewrote ${p.toPath}"))
            r.removed.foreach(p => out.println(s"  removed ${p.toPath}"))
            0
          }
        }
      }

      // optimize <table> <location> [--partition-by ...] [--zorder c1,c2]
      // [--files N] — the SQL OPTIMIZE verb's CLI twin: CAS-guarded layout
      // rewrite, plain compaction or Morton clustering
      case List("optimize", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          withFlavorChecked(t, table) {
            val zorder = flags.get("zorder").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            val badZ = zorder.find(c => table.partitionSchema.columnNames
              .exists(_.equalsIgnoreCase(c)))
            val files = flags.get("files").map(_.toIntOption)
            if (badZ.isDefined) {
              out.println(s"error: --zorder column '${badZ.get}' is a partition column"); 2
            } else if (files.exists(_.forall(_ < 1))) {
              out.println("error: --files must be a positive integer"); 2
            } else if (flags.contains("fold-dv")) {
              // targeted fold: rewrite ONLY the partitions carrying
              // merge-on-read deletion vectors (fully-deleted ones are
              // removed from the commit); everything else keeps its
              // exact version — the cheap way to retire DVs at scale
              val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
              val (_, changes) = engine.foldDeleteVectors(table, user,
                if (message.nonEmpty) message else "optimize fold-dv")
              if (changes.operations.isEmpty) out.println("no deletion vectors — no commit")
              else out.println(s"folded ${tracker.currentRef(t).id} " +
                s"(${changes.operations.size} partition ops)")
              0
            } else {
              val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
              val msg = if (message.nonEmpty) message else
                s"optimize${if (zorder.nonEmpty) s" zorder (${zorder.mkString(", ")})" else ""}"
              // --where scopes the rewrite to the exactly-matching
              // partitions (the SQL verb's WHERE clause)
              val changes = graft.sql.GraftMaintenanceSql.runOptimize(
                engine, table, user, msg, zorder, files.flatten,
                whereSql = flags.get("where"))
              out.println(s"optimized ${tracker.currentRef(t).id} " +
                s"(${changes.operations.size} partition ops)")
              0
            }
          }
        }
      }

      // delete <table> <location> --where <sql predicate> — predicate
      // DELETE through graft.operators.VersionedDml: stats/Bloom-pruned
      // partition discovery, only matched partitions rewritten, emptied
      // partitions removed from the commit, CAS-guarded
      // --dv switches to the merge-on-read path (deletion vectors): only
      // the matched positions are written, zero data bytes rewritten —
      // the selective-delete shape for huge tables; fold with `optimize`
      case List("delete", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          flags.get("where") match {
            case None => out.println("error: delete needs --where <sql predicate>"); 2
            case Some(w) => withFlavorChecked(t, table) {
              val spark = cliSpark()
              val engine = new graft.operators.VersionedTables(spark, tracker)
              if (flags.contains("dv")) {
                import graft.operators.DeleteVectors._
                val r = engine.deleteWhereDV(table, org.apache.spark.sql.functions.expr(w),
                  user, if (message.nonEmpty) message else s"dv delete where $w")
                if (r.affected.isEmpty) out.println("no rows matched — no commit")
                else {
                  out.println(s"deleted (merge-on-read)  ${tracker.currentRef(t).id}")
                  out.println(s"  positions ${r.deletedRows}")
                  r.affected.foreach(p => out.println(s"  dv ${p.toPath}"))
                }
              } else {
                import graft.operators.VersionedDml._
                val r = engine.deleteWhere(table, org.apache.spark.sql.functions.expr(w), user,
                  if (message.nonEmpty) message else s"delete where $w")
                if (r.rewritten.isEmpty && r.removed.isEmpty)
                  out.println("no rows matched — no commit")
                else {
                  out.println(s"deleted  ${tracker.currentRef(t).id}")
                  r.rewritten.foreach(p => out.println(s"  rewrote ${p.toPath}"))
                  r.removed.foreach(p => out.println(s"  removed ${p.toPath}"))
                }
              }
              0
            }
          }
        }
      }

      // update <table> <location> --where <pred> --set col=expr [--set ...]
      // — predicate UPDATE (SET expressions see the OLD row; partition
      // columns refuse — moves are a merge concern)
      case List("update", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          val sets: Seq[(String, String)] = flags.get("set").toSeq
            .flatMap(_.split(CheckSep)).map(_.trim).filter(_.nonEmpty)
            .map { a =>
              val i = a.indexOf('=')
              if (i <= 0) ("", "") else (a.take(i).trim, a.drop(i + 1).trim)
            }
          (flags.get("where"), sets) match {
            case (None, _) => out.println("error: update needs --where <sql predicate>"); 2
            case (_, ss) if ss.isEmpty || ss.exists(_._1.isEmpty) =>
              out.println("error: update needs --set col=expr [--set col=expr ...]"); 2
            case (Some(w), ss) => withFlavorChecked(t, table) {
              val spark = cliSpark()
              val engine = new graft.operators.VersionedTables(spark, tracker)
              val setMap =
                ss.map { case (c, e) => c -> org.apache.spark.sql.functions.expr(e) }.toMap
              if (flags.contains("dv")) {
                // merge-on-read: post-images + deletion vector, zero base
                // bytes rewritten — fold with `optimize` before stacking
                import graft.operators.DeleteVectors._
                val r = engine.updateWhereDV(table,
                  org.apache.spark.sql.functions.expr(w), setMap, user,
                  if (message.nonEmpty) message else s"dv update where $w")
                if (r.affected.isEmpty) out.println("no rows matched — no commit")
                else {
                  out.println(s"updated (merge-on-read)  ${tracker.currentRef(t).id}")
                  out.println(s"  positions ${r.deletedRows}")
                  r.affected.foreach(p => out.println(s"  dv ${p.toPath}"))
                }
              } else {
                import graft.operators.VersionedDml._
                val r = engine.updateWhere(table,
                  org.apache.spark.sql.functions.expr(w), setMap, user,
                  if (message.nonEmpty) message else s"update where $w")
                if (r.rewritten.isEmpty) out.println("no rows matched — no commit")
                else {
                  out.println(s"updated  ${tracker.currentRef(t).id}")
                  r.rewritten.foreach(p => out.println(s"  rewrote ${p.toPath}"))
                }
              }
              0
            }
          }
        }
      }

      // stats-checkpoint <table> <location> [--partition-by ...] — roll the
      // CURRENT version's per-label stats manifests into one
      // _stats/_checkpoint-<stamp>.json (retiring older checkpoints), so a
      // cold reader's first metadata touch costs one bulk read + one read
      // per label committed since, instead of O(live labels) filesystem
      // round-trips. Vacuum does this automatically on real runs; this verb
      // is the explicit "every N commits" maintenance hook.
      case List("stats-checkpoint", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          val spark = cliSpark()
          val engine = new graft.operators.VersionedTables(spark, tracker)
          engine.checkpointStats(table) match {
            case Some(file) => out.println(s"checkpointed $file"); 0
            case None       => out.println("no stats manifests to checkpoint"); 0
          }
        }
      }

      // stats <table> <location> [--partition-by ...] — per-partition view
      // of the CURRENT version's data-skipping manifests (TableStats):
      // files / rows / declared stats columns / bloom presence, or a
      // "(no stats manifest)" marker for versions written without a
      // ColumnStatsConfig. Ops surface: answers "will my selective reads
      // and merges prune?" without running a query — and without Spark:
      // manifests are plain JSON on a Hadoop FileSystem, read through the
      // same per-label cache the pruning passes use (one read per label,
      // however many partitions share it).
      // analyze <table> <location> --stats-columns c1[,c2] [--bloom-keys ...]
      // — the SQL ANALYZE TABLE twin: BACKFILL the missing stats manifests
      // of the current version state, so pre-stats/adopted/imported tables
      // gain commit-time file skipping retroactively
      case List("analyze", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table0 =>
          val statsCols = flags.get("stats-columns").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toList
          val bloomKeys = flags.get("bloom-keys").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toList
          if (statsCols.isEmpty && table0.stats.isEmpty) {
            out.println("error: analyze needs --stats-columns c1[,c2...] " +
              "(the columns to collect min/max/null-count manifests for)"); 2
          } else {
            val table =
              if (statsCols.isEmpty) table0
              else table0.copy(stats = Some(graft.core.ColumnStatsConfig(
                statsCols, bloomKeyColumns = bloomKeys)))
            val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
            val written = graft.operators.TableStats.backfillManifests(engine, table)
            if (written.isEmpty) out.println("all live versions already carry manifests")
            else written.foreach { case (label, parts) =>
              out.println(s"wrote manifest $label ($parts partitions scanned)")
            }
            0
          }
        }
      }

      case List("stats", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          val conf = new org.apache.hadoop.conf.Configuration()
          def line(tag: String, label: String,
              filesFor: graft.operators.TableStats.StatsManifest => List[graft.operators.TableStats.FileStats],
              bloomKey: String): Unit =
            graft.operators.TableStats.readManifestCached(conf, table.location, label) match {
              case Some(m) =>
                val fs = filesFor(m)
                if (fs.isEmpty)
                  // the read path treats a manifest listing no files for
                  // this partition as unprunable (full-directory fallback)
                  // — report that, not a misleading "files=0"
                  out.println(f"$tag%-40s (manifest lists no files here — reads fall back unpruned)")
                else {
                  val bloom = if (m.partitionBlooms.contains(bloomKey)) "bloom" else "-"
                  out.println(f"$tag%-40s files=${fs.size}%-4d rows=${fs.map(_.rows).sum}%-10d $bloom  stats[${m.statsColumns.mkString(",")}]")
                }
              case None =>
                out.println(f"$tag%-40s (no stats manifest)")
            }
          tracker.currentVersion(t) match {
            case PartitionedTableVersion(pvs) if pvs.isEmpty =>
              out.println("no partitions"); 0
            case PartitionedTableVersion(pvs) =>
              pvs.toList.sortBy(_._1.toPath).foreach { case (p, v) =>
                if (v == Version.Unversioned)
                  out.println(f"${p.toPath}%-40s (pre-versioning adopted data — no manifest)")
                else line(p.toPath, v.label, _.filesFor(p.toHivePath), p.toHivePath)
              }
              0
            case SnapshotTableVersion(v) =>
              if (v == Version.Unversioned)
                // foldVersion yields the Unversioned sentinel BOTH for a
                // never-written snapshot table and for adopted-in-place
                // data; say so instead of mislabeling a fresh empty table
                out.println("no versioned data (never written, or pre-versioning data at the base path)")
              else line("<snapshot>", v.label, _.files, "")
              0
          }
        }
      }

      // row-changes <table> <location> <from> <to> --keys k1[,k2...]
      //   --out <dir> [--partition-by ...] [--format fmt]
      // Row-level change feed between two commits (ChangeFeed): writes
      // (table columns + _change_type ∈ insert/update/delete) as parquet
      // under --out and prints the per-class bill. The Spark-backed twin of
      // the metadata-only `changes` verb above.
      case List("row-changes", name, location, from, to) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          withFlavorChecked(t, table) {
            (keyList, flags.get("out")) match {
              case (Nil, _) => out.println("error: row-changes needs --keys k1[,k2...]"); 2
              case (_, None) => out.println("error: row-changes needs --out <dir>"); 2
              case (ks, Some(dest)) =>
                import graft.operators.ChangeFeed._
                val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
                val feed = engine.readRowChangesBetween(
                  table, ks, CommitId(from), CommitId(to))
                feed.write.mode("overwrite").parquet(dest)
                val bill = cliSpark().read.parquet(dest)
                  .groupBy(graft.operators.ChangeFeed.ChangeTypeColumn).count()
                  .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
                Seq("insert", "update", "delete").foreach(c =>
                  out.println(f"$c%-7s ${bill.getOrElse(c, 0L)}"))
                out.println(s"written $dest")
                0
            }
          }
        }
      }

      // summary <table> <location> --columns c1[,c2...] [--partition-by ...]
      // [--at <commit>] — one-line exact COUNT/MIN/MAX/null-count report
      // per column (graft.operators.MetadataQuery): folded from the stats
      // manifests driver-side where covered, with exactly the uncovered
      // partitions scanned. The metadata-fast twin of a full-table
      // aggregate; --at reports a historical commit (manifests are per
      // version label, so history folds exactly like the head).
      case List("summary", name, location) => withTable(name) { t =>
        withTableDef(t, location, flags, out) { table =>
          withFlavorChecked(t, table) {
            val cols = flags.get("columns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            val engine = new graft.operators.VersionedTables(cliSpark(), tracker)
            // the pinned state and the schema the log recorded at it
            val (version, recorded) = flags.get("at") match {
              case Some(commit) =>
                val st = tracker.tableState(t)
                val id = graft.core.CommitId(commit)
                (st.versionAt(id), st.schemaJsonAt(id))
              case None =>
                val hs = tracker.headState(t)
                (hs.version, hs.schemaJson)
            }
            val row = graft.operators.MetadataQuery.summarizeVersion(table = table,
              engine = engine, version = version, columns = cols,
              schemaHint = graft.operators.VersionedTables.parseSchemaJson(recorded)).head()
            out.println(s"rows    ${row.getLong(0)}")
            cols.map(_.toLowerCase).zipWithIndex.foreach { case (c, i) =>
              val base = 1 + i * 3
              def v(j: Int): String = if (row.isNullAt(j)) "NULL" else row.get(j).toString
              out.println(f"$c%-20s min=${v(base)}  max=${v(base + 1)}  nulls=${row.getLong(base + 2)}")
            }
            0
          }
        }
      }

      case List("migrate") =>
        // convert reference-layout (_chronicles_table_*) stores under the
        // root into graft-v2 layout; file store only (the JDBC store has no
        // chronicles-layout counterpart to migrate from)
        tracker match {
          case fb: FileBackedVersionTracker =>
            val migrated = fb.migrateChroniclesTables()
            if (migrated.isEmpty) out.println("nothing to migrate")
            else migrated.foreach(t => out.println(s"migrated  ${t.fullyQualifiedName}"))
            0
          case _ =>
            out.println("error: migrate requires a file-backed store"); 2
        }

      case other =>
        out.println(s"""error: unknown command: ${other.mkString(" ")}
          |usage: graft-cli --store <uri> <tables|init|log|partitions|partition add|partition remove|checkout|restore|tag|tags|untag|changes|row-changes|delete|update|optimize|analyze|stats|stats-checkpoint|summary|vacuum|migrate|export|sync|stage|audit|publish|publish-group|merge> ...""".stripMargin)
        2
    } catch {
      case e @ (_: UnknownTableError | _: UnknownCommitError |
                _: TagExistsError | _: UnknownTagError) =>
        out.println(s"error: ${e.getMessage}"); 1
      // routine operational refusals (export destination exists, sync
      // replica diverged/empty/corrupt, chronicles-layout write refusal)
      // surface as clean errors, not stack traces. Deliberately NOT caught:
      // sys.error corruption reports (RuntimeException — a corrupt store is
      // an incident, its stack trace is evidence) and everything else, so a
      // genuine internal bug still fails loudly rather than being relabeled
      // a refusal; the message is printed either way, only the framing and
      // exit path differ.
      case e @ (_: IllegalStateException | _: UnsupportedOperationException) =>
        out.println(s"error: ${e.getMessage}"); 1
      // WAP-verb user errors that only surface at Spark analysis time — a
      // nonexistent stage source path, a --check referencing a column the
      // staged data lacks — are refusals, not incidents
      case e: org.apache.spark.sql.AnalysisException =>
        out.println(s"error: ${e.getMessage}"); 1
      case e: IllegalArgumentException =>
        out.println(s"error: ${e.getMessage}"); 2
    }
  }

  /** The SparkSession for the three data-touching WAP verbs — created on
    * demand (every other command stays Spark-free), reusing any active
    * session (test harnesses). The stage write path requires dynamic
    * partition-overwrite mode; UTC keeps reads consistent with the engine's
    * convention. */
  private def cliSpark(): org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      // an embedding session (test harness, notebook) is used AS-IS — no
      // global conf mutation behind its owner's back; if it lacks dynamic
      // partition-overwrite mode, the stage write's own precondition check
      // fails loudly with the config name
      case Some(s) => s
      case None =>
        val s = org.apache.spark.sql.SparkSession.builder()
          .master(sys.env.getOrElse("GRAFT_CLI_MASTER", "local[2]"))
          .appName("graft-cli")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
          .getOrCreate()
        // a CLI is a terminal tool: its own fresh session must not drown
        // the audit report in executor INFO logs
        s.sparkContext.setLogLevel("WARN")
        s
    }

  /** Build the TableDefinition the WAP verbs operate on from the location
    * argument plus `--partition-by c1,c2` (omitted = snapshot table) and
    * `--format` (default parquet). */
  private def withTableDef(
      t: TableName, location: String,
      flags: Map[String, String], out: java.io.PrintWriter)(f: TableDefinition => Int): Int = {
    val parsed = try Right(new URI(location)) catch {
      case e: java.net.URISyntaxException => Left(s"bad location '$location': ${e.getMessage}")
    }
    parsed match {
      case Left(err) => out.println(s"error: $err"); 2
      case Right(uri) =>
        val partBy = flags.get("partition-by")
          .map(_.split(",").toList.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val schema = partBy match {
          case Nil          => PartitionSchema.snapshot
          case head :: rest => PartitionSchema(head, rest: _*)
        }
        // --merge-schema: mixed-file-schema (evolved) tables MUST read
        // with footer merging — without it a Spark verb that rewrites data
        // (optimize, merge, update) could sample a pre-evolution footer
        // and silently drop the evolved columns from the rewrite
        val options =
          if (flags.contains("merge-schema")) Map("mergeSchema" -> "true")
          else Map.empty[String, String]
        f(TableDefinition(t, uri, schema,
          FileFormat(flags.getOrElse("format", "parquet")), options = options))
    }
  }

  /** [[withTableDef]] for the verbs that operate on an EXISTING stage:
    * when `--partition-by` is absent, the partition schema is recovered
    * from the stage's manifest (`_staging/<label>.json` — the stage
    * recorded its exact ops), so `audit`/`publish` don't need the stage
    * invocation's flags re-stated. An explicit flag still wins; a
    * manifest-less pre-round-11 stage falls back to the flag-built
    * definition. */
  private def withStagedTableDef(
      t: TableName, location: String, label: String,
      flags: Map[String, String], out: java.io.PrintWriter)(f: TableDefinition => Int): Int =
    withTableDef(t, location, flags, out) { prelim =>
      val effective =
        if (flags.contains("partition-by")) prelim
        else graft.operators.VersionedTables.readStagingManifest(
            cliSpark().sparkContext.hadoopConfiguration, prelim.location, label)
          .flatMap(_.operations.collectFirst {
            case graft.core.TableOperation.AddPartitionVersion(p, _) =>
              val cols = p.columnValues.map(_.column.name)
              prelim.copy(partitionSchema = PartitionSchema(cols.head, cols.tail: _*))
          }).getOrElse(prelim)
      f(effective)
    }

  /** Parse every repeated `--check <spec>` (see [[parseCheck]]); usage
    * error when any is malformed, or when none were given and the command
    * requires at least one. */
  private def withChecks(
      flags: Map[String, String], out: java.io.PrintWriter, allowEmpty: Boolean)(
      f: Seq[graft.operators.Expectations.Check] => Int): Int = {
    val specs = flags.get("check").map(_.split(CheckSep).toList).getOrElse(Nil)
    if (specs.isEmpty && !allowEmpty) {
      out.println("error: audit needs at least one --check <spec>"); 2
    } else {
      val parsed = specs.map(parseCheck)
      val errs = parsed.collect { case Left(e) => e }
      if (errs.nonEmpty) { errs.foreach(e => out.println(s"error: $e")); 2 }
      else f(parsed.collect { case Right(c) => c })
    }
  }

  /** One `--check` spec → an [[graft.operators.Expectations.Check]].
    * Grammar: `not-null:c1,c2` | `unique:c1,c2` | `unique-approx:c1,c2[@rsd]`
    * | `in-range:col:lo:hi` | `satisfies:name:<sql-expr>`. */
  private[cli] def parseCheck(spec: String): Either[String, graft.operators.Expectations.Check] = {
    import graft.operators.Expectations._
    def cols(s: String) = s.split(",").toList.map(_.trim).filter(_.nonEmpty)
    val i = spec.indexOf(':')
    val (kind, body) = if (i < 0) (spec, "") else (spec.take(i), spec.drop(i + 1))
    kind match {
      case "not-null" if cols(body).nonEmpty => Right(NotNull(cols(body)))
      case "unique" if cols(body).nonEmpty   => Right(Unique(cols(body)))
      case "unique-approx" if body.nonEmpty =>
        body.split("@") match {
          case Array(cs) if cols(cs).nonEmpty => Right(UniqueApprox(cols(cs)))
          case Array(cs, r) if cols(cs).nonEmpty =>
            r.toDoubleOption.filter(d => d > 0 && d < 1)
              .map(d => UniqueApprox(cols(cs), d))
              .toRight(s"bad rsd '$r' in '$spec' (need 0<rsd<1)")
          case _ => Left(s"unique-approx needs cols[@rsd] in '$spec'")
        }
      case "in-range" =>
        body.split(":") match {
          case Array(c, lo, hi) if c.nonEmpty =>
            (lo.toDoubleOption, hi.toDoubleOption) match {
              case (Some(l), Some(h)) => Right(InRange(c, l, h))
              case _                  => Left(s"bad numeric bounds in '$spec'")
            }
          case _ => Left(s"in-range needs col:lo:hi in '$spec'")
        }
      case "satisfies" =>
        val j = body.indexOf(':')
        if (j <= 0 || j == body.length - 1)
          Left(s"satisfies needs name:<sql-expr> in '$spec'")
        else
          try Right(Satisfies(body.take(j), org.apache.spark.sql.functions.expr(body.drop(j + 1))))
          catch { case e: org.apache.spark.sql.AnalysisException =>
            Left(s"bad sql expression in '$spec': ${e.getMessage}") }
      case other =>
        Left(s"unknown check '$other' (not-null|unique|unique-approx|in-range|satisfies)")
    }
  }

  /** Parse an export/sync destination URI, or the usage error (exit 2) —
    * shared by the two commands that take one. */
  private def withDestUri(dest: String, out: java.io.PrintWriter)(f: URI => Int): Int = {
    val parsed = try Right(new URI(dest)) catch {
      case e: java.net.URISyntaxException => Left(e.getMessage)
    }
    parsed match {
      case Right(uri) => f(uri)
      case Left(msg)  => out.println(s"error: bad destination '$dest': $msg"); 2
    }
  }

  /**
   * Read a config file in the simple `key: value` subset of HOCON the
   * reference documents for `~/.chronicles/config` (docs/usage.md:60-76):
   * one binding per line, optional quotes, `#`/`//` comments. Missing file
   * ⇒ empty config (flags/env still work).
   */
  private[cli] def loadConfig(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.isRegularFile(path) || !java.nio.file.Files.isReadable(path)) Map.empty
    else
      // a malformed config must not take down commands that don't need it
      // (e.g. ones passing an explicit --store): degrade to "no config"
      try
        java.nio.file.Files.readAllLines(path).toArray(Array.empty[String]).toList
          .map(stripComment)
          .map(_.trim)
          .filter(_.nonEmpty)
          .flatMap { line =>
            val idx = line.indexWhere(c => c == ':' || c == '=')
            if (idx <= 0) None
            else Some(line.take(idx).trim -> unquote(line.drop(idx + 1).trim))
          }
          .toMap
      catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def stripComment(line: String): String = {
    // drop text after an unquoted #, or an unquoted // at line start /
    // after whitespace — NOT mid-token, so unquoted URIs survive:
    // `store: file:///tmp/s` keeps its //, `store: x  // note` is cut
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuote = !inQuote
      else if (!inQuote && c == '#') return line.take(i)
      else if (!inQuote && c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/' &&
        (i == 0 || Character.isWhitespace(line.charAt(i - 1))))
        return line.take(i)
      i += 1
    }
    line
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\"")) s.substring(1, s.length - 1) else s

  /**
   * Resolve a store URI from config. Two shapes:
   *  - graft-native: `store: <uri>` (file path/URI or jdbc: URL)
   *  - the reference's `type: db-config` shape (db-type/hostname/port/db-name/
   *    username/password — docs/usage.md:64-76), assembled into a JDBC URL.
   */
  private[cli] def storeFromConfig(config: Map[String, String]): Option[String] =
    config.get("store").orElse {
      if (!config.get("type").contains("db-config")) None
      else for {
        dbType <- config.get("db-type")
        host <- config.get("hostname")
        dbName <- config.get("db-name")
      } yield {
        val port = config.get("port").map(p => s":$p").getOrElse("")
        val creds = List(
          config.get("username").filter(_.nonEmpty).map(u => s"user=$u"),
          config.get("password").filter(_.nonEmpty).map(p => s"password=$p")).flatten
        val query = if (creds.isEmpty) "" else creds.mkString("?", "&", "")
        s"jdbc:$dbType://$host$port/$dbName$query"
      }
    }

  /** Timestamp forms a REF argument accepts: an ISO-8601 instant
    * (`2024-03-01T00:00:00Z`), a local date-time (`2024-03-01T00:00:00`,
    * UTC) or a bare date (`2024-03-01`, midnight UTC). */
  private def parseRefInstant(s: String): Option[java.time.Instant] = {
    def attempt(f: => java.time.Instant): Option[java.time.Instant] =
      try Some(f) catch { case _: java.time.format.DateTimeParseException => None }
    attempt(java.time.Instant.parse(s))
      .orElse(attempt(java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)))
      .orElse(attempt(java.time.LocalDate.parse(s).atStartOfDay.toInstant(java.time.ZoneOffset.UTC)))
  }

  /** Separator for the one repeatable flag (`--check`): NUL can't survive
    * an execve argv, so it can never collide with user input. */
  private val CheckSep = "\u0000"

  /** Split `--flag value` / `--flag` pairs from positional args. A repeated
    * `--check` accumulates (NUL-joined); other repeated flags keep the last
    * value. */
  private def parseFlags(argv: List[String]): (Map[String, String], List[String]) = {
    // every value-less flag must be listed: an unlisted one silently eats
    // the following positional token as its "value" and the verb misparses
    val boolFlags = Set("isSnapshot", "apply", "merge-schema", "dv", "fold-dv")
    def loop(rest: List[String], flags: Map[String, String], pos: List[String]): (Map[String, String], List[String]) =
      rest match {
        case Nil => (flags, pos.reverse)
        case flag :: tail if flag.startsWith("--") =>
          val key = flag.stripPrefix("--")
          if (boolFlags.contains(key) || tail.isEmpty || tail.head.startsWith("--"))
            loop(tail, flags + (key -> "true"), pos)
          else {
            val value =
              if ((key == "check" || key == "set") && flags.contains(key))
                flags(key) + CheckSep + tail.head
              else tail.head
            loop(tail.tail, flags + (key -> value), pos)
          }
        case p :: tail => loop(tail, flags, p :: pos)
      }
    loop(argv, Map.empty, Nil)
  }
}
