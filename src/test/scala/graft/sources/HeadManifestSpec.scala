package graft.sources

import graft.core._
import java.nio.file.{Files, Path => JPath}
import java.time.Instant
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/**
 * Laws of the head manifest — the compact per-table index that lets every
 * per-statement state read skip the table-directory listing entirely (the
 * 100-TB concern: a hot table with a 100k-commit streaming history must not
 * pay an O(#commits) `listStatus` per query). The laws assert on the
 * tracker's own `directoryListings` / `commitFilesParsed` counters, so a
 * regression back to a per-read listing fails loudly rather than just
 * slowly; and every degraded/stale/corrupt manifest shape must still
 * produce EXACTLY the full-replay answer, only slower.
 */
class HeadManifestSpec extends AnyFlatSpec with Matchers {

  private val t = TableName("db", "t")
  private val u = UserId("u")

  private def tracker(dir: JPath, interval: Int = 4) =
    new FileBackedVersionTracker(dir.toUri, checkpointInterval = interval)

  private def commitN(tr: FileBackedVersionTracker, ids: Range): Unit =
    ids.foreach { i =>
      tr.commit(t, TableUpdate(u, s"c$i", Instant.now(),
        List(TableOperation.AddPartitionVersion(Partition("day", f"d$i%03d"), Version.generate()))))
    }

  private def tableDir(root: JPath): JPath =
    Files.list(root).iterator.asScala
      .find(_.getFileName.toString.startsWith(FileBackedVersionTracker.TableDirPrefix)).get

  private def manifestFile(root: JPath): JPath =
    tableDir(root).resolve(FileBackedVersionTracker.ManifestFile)

  private def readManifest(root: JPath): JsonCodecs.HeadManifest =
    JsonCodecs.manifestFromJson(new String(Files.readAllBytes(manifestFile(root)), "UTF-8"))
      .fold(e => fail(s"unparseable manifest: $e"), identity)

  "the head manifest" should "serve state reads with ZERO directory listings once healthy" in {
    val root = Files.createTempDirectory("graft-manifest-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6) // checkpoint at commit 4 writes fold doc + manifest; tail = 2

    val r = tracker(root)
    val got = r.currentVersion(t)
    val hs = r.headState(t)
    r.directoryListings.get() shouldBe 0L
    r.commitFilesParsed.get() should be <= 4L // the tail twice, never the history
    val st = w.tableState(t)
    got shouldBe st.currentTableVersion
    hs.version shouldBe st.currentTableVersion
    hs.schemaJson shouldBe st.currentSchemaJson
  }

  it should "keep (covered + tail) exactly equal to the commit files on disk" in {
    val root = Files.createTempDirectory("graft-manifest-inv-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 11) // two checkpoints (4, 8) + tail of 4 (init counts)

    val m = readManifest(root)
    m.foldDoc should not be empty
    val onDisk = Files.list(tableDir(root)).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(FileBackedVersionTracker.CommitFilePrefix) && n.endsWith(".json"))
      .toList.sorted
    // tail = exactly the files past the boundary; everything else is covered
    m.tail shouldBe onDisk.filter(_ > m.lastCovered)
    onDisk.count(_ <= m.lastCovered) should be > 0
  }

  it should "fall back to the listing path (still exact) when the manifest is corrupt, and rebuild at the next checkpoint" in {
    val root = Files.createTempDirectory("graft-manifest-bad-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6)
    Files.write(manifestFile(root), "not json".getBytes("UTF-8"))

    val r = tracker(root)
    r.currentVersion(t) shouldBe w.tableState(t).currentTableVersion
    r.directoryListings.get() should be >= 1L // proved it went through the listing path

    // commits keep flowing (appends skip the corrupt manifest), and the next
    // checkpoint rebuilds a healthy one from a listing taken under the lock
    commitN(w, 7 to 9) // checkpoint at commit 8
    val m = readManifest(root)
    m.foldDoc should not be empty
    val r2 = tracker(root)
    r2.currentVersion(t) shouldBe w.tableState(t).currentTableVersion
    r2.directoryListings.get() shouldBe 0L
  }

  it should "report a corrupt manifest as one key=value WARN line on the graft logger" in {
    val root = Files.createTempDirectory("graft-manifest-log-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6)
    Files.write(manifestFile(root), "not json".getBytes("UTF-8"))

    val logged = graft.LogCapture.warnings("graft") {
      tracker(root).currentVersion(t) shouldBe w.tableState(t).currentTableVersion
    }
    logged should have size 1
    logged.head should startWith("WARN event=corrupt_head_manifest dir=")
    logged.head should include("fallback=listing")
    logged.head should not include "\n" // the parser's multi-line message is escaped
  }

  it should "recreate a deleted manifest (legacy store upgrade) at the next checkpoint" in {
    val root = Files.createTempDirectory("graft-manifest-del-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6)
    Files.delete(manifestFile(root)) // simulate a store written before manifests existed

    commitN(w, 7 to 9) // appends skip (absent); checkpoint at commit 8 recreates
    val m = readManifest(root)
    m.foldDoc should not be empty
    val r = tracker(root)
    r.headState(t).version shouldBe w.tableState(t).currentTableVersion
    r.directoryListings.get() shouldBe 0L
  }

  it should "degrade on a commit at or below the fold boundary and stay exact through the fallback" in {
    val root = Files.createTempDirectory("graft-manifest-skew-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6)
    // simulate a skewed cross-process writer: a manifest whose boundary sorts
    // ABOVE every name the local monotonic clock will produce next
    val m0 = readManifest(root)
    Files.write(manifestFile(root), JsonCodecs.manifestToJson(
      m0.copy(lastCovered = FileBackedVersionTracker.CommitFilePrefix + "99990101T000000.000000000Z.json",
        tail = Nil)).getBytes("UTF-8"))

    commitN(w, 7 to 7) // name sorts below the planted boundary => must degrade
    val degraded = readManifest(root)
    degraded.foldDoc shouldBe None

    // degraded reads fall back to the listing path — exact, just slower
    val r = tracker(root)
    r.currentVersion(t) shouldBe w.tableState(t).currentTableVersion

    // and the next checkpoint heals it
    commitN(w, 8 to 9) // checkpoint at commit 8
    readManifest(root).foldDoc should not be empty
    val r2 = tracker(root)
    r2.currentVersion(t) shouldBe w.tableState(t).currentTableVersion
    r2.directoryListings.get() shouldBe 0L
  }

  it should "never lose commits when a stale-boundary rewrite races a newer manifest" in {
    // two processes checkpointing back-to-back: the rewrite carrying the
    // OLDER boundary must leave the newer manifest untouched — rewinding it
    // would orphan the commits between the two boundaries. Simulated by
    // planting a newer-boundary manifest and forcing a full-refold rewrite.
    val root = Files.createTempDirectory("graft-manifest-race-")
    val w = tracker(root, interval = 2)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 7) // several checkpoints; manifest healthy
    val healthy = readManifest(root)

    // roll the store's manifest back to a strictly older boundary than the
    // healthy one, as a racing older rewrite would try to: the guard keeps
    // the newer manifest
    val w2 = tracker(root, interval = 2)
    commitN(w2, 8 to 9) // next checkpoint rewrites; must ADVANCE, never rewind
    val after = readManifest(root)
    after.lastCovered >= healthy.lastCovered shouldBe true

    val r = tracker(root)
    r.currentVersion(t) shouldBe w.tableState(t).currentTableVersion
  }

  it should "serve newest-first log pages from the tail with zero listings, exactly like the listing path" in {
    val root = Files.createTempDirectory("graft-manifest-page-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 11) // checkpoints at 4 and 8; tail = 4

    val byListing = w.tableState(t).updates.reverse.map(_.metadata)
    val r = tracker(root)
    val (page, cursor) = r.updatesPage(t, 3, None) // fits in the 4-entry tail
    r.directoryListings.get() shouldBe 0L
    page shouldBe byListing.take(3)
    cursor shouldBe defined
    // the cursor continues SEAMLESSLY into the listing path (page crosses
    // the fold boundary), and the concatenation law holds end to end
    val (page2, _) = r.updatesPage(t, 6, cursor)
    page2 shouldBe byListing.slice(3, 9)
    // a page too big for the tail comes from the listing, same answer
    tracker(root).updatesPage(t, 10, None)._1 shouldBe byListing.take(10)
  }

  it should "serve offset log pages inside the tail with zero listings, exactly like the listing path" in {
    val root = Files.createTempDirectory("graft-manifest-offset-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 11) // two checkpoints, a short tail past the second
    val tailSize = readManifest(root).tail.size
    tailSize should be >= 3

    val byListing = w.tableState(t).updates.reverse.map(_.metadata)
    val inTail = tracker(root)
    inTail.updates(t, 2, 0) shouldBe byListing.take(2)
    inTail.updates(t, 1, 2) shouldBe byListing.slice(2, 3)
    inTail.updates(t, tailSize, 0) shouldBe byListing.take(tailSize)
    inTail.directoryListings.get() shouldBe 0L
    // every page, inside the tail or crossing the checkpoint, matches
    for (limit <- 0 to 13; offset <- 0 to 13)
      withClue(s"limit $limit offset $offset: ") {
        tracker(root).updates(t, limit, offset) shouldBe byListing.slice(offset, offset + limit)
      }
    val crossing = tracker(root)
    crossing.updates(t, 3, tailSize - 1) shouldBe byListing.slice(tailSize - 1, tailSize + 2)
    crossing.directoryListings.get() shouldBe 1L // the fallback still lists

    // a crashed writer's ORPHAN commit file (on disk, absent from the
    // manifest) is skipped by both paths: a walk that starts on the
    // manifest and crosses into the listing sees every commit exactly once
    val orphan = TableUpdate(u, "orphan", Instant.now(),
      List(TableOperation.AddPartitionVersion(Partition("day", "d999"), Version.generate())))
    Files.write(tableDir(root).resolve(FileBackedVersionTracker.CommitFilePrefix + "29990101T000000.000000000Z.json"),
      JsonCodecs.toJson(orphan).getBytes("UTF-8"))
    for (limit <- 1 to 13; offset <- 0 to 13)
      withClue(s"orphan planted, limit $limit offset $offset: ") {
        tracker(root).updates(t, limit, offset) shouldBe byListing.slice(offset, offset + limit)
      }
    Iterator.from(0, 2).map(tracker(root).updates(t, 2, _)).takeWhile(_.nonEmpty)
      .flatten.toList shouldBe byListing
    def keysetWalk(cursor: Option[String]): List[TableUpdateMetadata] = {
      val (page, next) = tracker(root).updatesPage(t, 2, cursor)
      page ++ next.fold(List.empty[TableUpdateMetadata])(c => keysetWalk(Some(c)))
    }
    keysetWalk(None) shouldBe byListing
  }

  it should "resolve parentCommit of tail ids with zero listings (and boundary/covered ids exactly)" in {
    val root = Files.createTempDirectory("graft-manifest-parent-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 11) // boundary after commit 8 (init + 1..7 covered at fold 8)
    val hist = w.tableState(t).updates.map(_.metadata.id) // oldest first

    val r = tracker(root)
    // newest commit: parent from the manifest tail, zero listings
    r.parentCommit(t, hist.last) shouldBe Some(hist(hist.size - 2))
    r.directoryListings.get() shouldBe 0L
    // every id agrees with the history ordering, whatever path serves it
    hist.zipWithIndex.foreach { case (id, i) =>
      tracker(root).parentCommit(t, id) shouldBe (if (i == 0) None else Some(hist(i - 1)))
    }
    intercept[UnknownCommitError] { r.parentCommit(t, CommitId("nope")) }
  }

  it should "never serve a wrong state under concurrent writers and readers" in {
    // 4 writer threads × 60 commits (per-thread disjoint partition spaces,
    // checkpoints firing throughout) while 2 reader threads hammer
    // headState/currentVersion on SEPARATE tracker instances: every read
    // must be internally consistent (each partition's version belongs to
    // that partition's own committed sequence) and the final state must
    // equal the full replay exactly.
    val root = Files.createTempDirectory("graft-manifest-conc-")
    val w = tracker(root, interval = 8)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    val writers = 4; val perWriter = 60
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerThreads = (0 until 2).map { _ =>
      val r = tracker(root, interval = 8)
      new Thread(() => {
        try while (!done.get()) {
          val hs = r.headState(t)
          hs.version match {
            case PartitionedTableVersion(m) =>
              // writer w only ever touches day=w### partitions; any
              // cross-contamination or phantom partition is a wrong read
              m.keys.foreach { p =>
                val v = p.columnValues.head.value
                assert(v.length == 4 && v.head.isDigit, s"phantom partition $p")
              }
            case other => throw new IllegalStateException(s"unexpected $other")
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val writerThreads = (0 until writers).map { wi =>
      new Thread(() => {
        try (0 until perWriter).foreach { i =>
          w.commit(t, TableUpdate(u, s"w$wi-$i", Instant.now(),
            List(TableOperation.AddPartitionVersion(
              Partition("day", f"$wi${i % 50}%03d"), Version.generate()))))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    readerThreads.foreach(_.start()); writerThreads.foreach(_.start())
    writerThreads.foreach(_.join()); done.set(true); readerThreads.foreach(_.join())
    errs.asScala.toList shouldBe Nil
    // final exactness: manifest-served state == full replay on a fresh instance
    val fresh = tracker(root, interval = 8)
    fresh.headState(t).version shouldBe w.tableState(t).currentTableVersion
    fresh.directoryListings.get() shouldBe 0L // and it came from the manifest
  }

  it should "survive a crash window: commit file present, head and manifest unmoved" in {
    val root = Files.createTempDirectory("graft-manifest-crash-")
    val w = tracker(root)
    w.initTable(t, isSnapshot = false, u, "init", Instant.now())
    commitN(w, 1 to 6)
    val expected = w.tableState(t).currentTableVersion

    // plant an ORPHAN commit document (as a writer crashing between the
    // commit-file rename and the manifest/head writes would leave): readers
    // must keep serving the pre-crash state
    val orphan = TableUpdate(u, "orphan", Instant.now(),
      List(TableOperation.AddPartitionVersion(Partition("day", "d999"), Version.generate())))
    val name = FileBackedVersionTracker.CommitFilePrefix + "29990101T000000.000000000Z.json"
    Files.write(tableDir(root).resolve(name), JsonCodecs.toJson(orphan).getBytes("UTF-8"))

    val r = tracker(root)
    r.currentVersion(t) shouldBe expected
    r.headState(t).version shouldBe expected
    // the orphan is not in the manifest, so the fast path never parses it
    r.directoryListings.get() shouldBe 0L
  }
}
