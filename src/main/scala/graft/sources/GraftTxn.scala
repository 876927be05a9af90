package graft.sources

import java.io.File

/** Optimistic concurrency for graft-table commits (VERDICT r11 #1 —
  * the last row-level-DML capability SURVEY §2.10 filed under
  * table-format territory, implemented on the catalog's existing
  * filesystem machinery).
  *
  * Protocol (the classic snapshot-validate-commit shape Iceberg/Delta
  * run against a metastore, here against the table directory itself):
  *
  *  - Every statement captures its READ SNAPSHOT (the data-file set,
  *    and the `_graft_v<N>` version marker) when its row-level
  *    operation is planned.
  *  - Every commit — append, copy-on-write DELETE swap, or row-level
  *    rewrite — runs under the table's COMMIT LOCK, a sibling
  *    `<dir>.commitlock` file acquired by atomic `createNewFile` (it
  *    lives OUTSIDE the table directory so the delete path's whole-dir
  *    swap cannot move it).
  *  - Under the lock, before applying its delete set, a commit
  *    VALIDATES: every file of its conflict set must still exist. A
  *    missing file means a concurrent commit rewrote data this
  *    statement read → [[GraftTxn.CommitConflictException]], and the
  *    loser's freshly written part files are rolled back (its inner
  *    write aborts) — the table keeps exactly the winner's state.
  *  - A successful commit bumps the version marker, so `version(dir)`
  *    is a cheap "did anything commit since I read" probe.
  *
  * Conflict sets (first-committer-wins, snapshot-isolation-style
  * write-write detection):
  *  - MERGE: the whole read snapshot — its NOT MATCHED arm is a
  *    whole-table read, so ANY concurrent rewrite invalidates it; and
  *    (round 13) any file that APPEARED since the snapshot conflicts
  *    too, because a concurrent V2 append can carry the key a NOT
  *    MATCHED arm decided was absent (the phantom-insert class —
  *    without it two concurrent upsert-MERGEs of a new key both
  *    insert).
  *  - DELETE/UPDATE: the statement's rewrite group (affected files) —
  *    two statements touching disjoint files both commit.
  *  - Appends (CTAS, DataFrame-API writes, and — round 13 — SQL
  *    `INSERT INTO`, now a V2 write because the catalog hands Spark a
  *    non-FileTable wrapper): no conflict set — an append invalidates
  *    nobody's reads (except a concurrent MERGE's, per the phantom
  *    rule above); it just serializes under the lock and bumps the
  *    version. `INSERT OVERWRITE` commits as a whole-table
  *    restatement through the same staged path.
  *
  * Retry is STATEMENT-grain: [[retryOnConflict]] re-runs the SQL
  * (fresh plan → fresh snapshot), the loser-retries-once-winner-is-
  * visible semantics the spec pins.
  *
  * Staging isolation: every V2 write (row-level rewrite, CTAS/API
  * append) targets its OWN hidden side-directory `<dir>/_stage_<nonce>`
  * and its files are PROMOTED into the live directory under the lock
  * at commit. Without this, two concurrent writes share the live
  * dir's `_temporary/` FileOutputCommitter staging and the winner's
  * commitJob sweeps in the loser's staged task files — the silent
  * double-apply the first spec run caught. Underscore-prefixed
  * directories are invisible to Spark's file listing, so readers
  * never see a stage.
  *
  * Former known boundary, CLOSED in round 13: SQL `INSERT INTO`/
  * `INSERT OVERWRITE` used to run through Spark's analyzer fallback
  * (`FallBackFileSourceV2` rewrites inserts over any FileTable to the
  * V1 path — straight into the live directory: no lock, no version).
  * The catalog now hands Spark [[GraftTable]], a plain `Table`
  * delegate that is NOT a FileTable, so the rewrite never fires and
  * SQL inserts plan as V2 `AppendData`/`OverwriteByExpression` inside
  * this protocol: staged, locked, versioned, snapshot-visible to time
  * travel and the CDC feed, and detected by MERGE's phantom-insert
  * validation. Insert-only commits never conflict with each other
  * (append semantics — duplicate inserts of the same logical row are
  * the application's concern, as in every SI system without unique
  * constraints).
  */
object GraftTxn {
  /** Label the Spark jobs `body` launches (guide §1.5 — round 16):
    * engine-internal phases (stats collection, CDF image build, group
    * discovery, DV staging, MV refresh) each submit their own jobs,
    * and an unlabeled UI/event log cannot attribute a slow commit to
    * its phase. Thread-local set/restore, so concurrent statements on
    * other threads keep their own labels. */
  def described[T](spark: org.apache.spark.sql.SparkSession,
      phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft: $phase")
    try body
    finally sc.setJobDescription(prev)
  }

  /** [[described]] plus AQE off for the section (round 17, guide §1
    * fixed costs): engine-internal phases run SMALL fixed-shape queries
    * (a CDF image diff, a stats scan, an optimize rewrite) where AQE
    * contributes nothing but one extra driver-round-trip job per
    * exchange — measured on sql65: 4 jobs for one CDF image build, 48
    * jobs for the whole row. Disabling AQE inside the section packs
    * each phase into one job; results are unaffected (AQE re-plans,
    * never re-defines). A [[graft.SessionConf.scoped]] section over
    * [[graft.SessionConf.AqeOff]]: concurrent statements' phases
    * (Round14Spec's conflict tests) enter and exit out of order, and
    * the session still gets its own values back. */
  def describedNoAqe[T](spark: org.apache.spark.sql.SparkSession,
      phase: String)(body: => T): T = described(spark, phase) {
    graft.SessionConf.scoped(spark, graft.SessionConf.AqeOff: _*)(body)
  }

  /** Thrown by a losing commit. Message names the table and a sample
    * of the invalidated files; the statement's writes are rolled back
    * before this propagates. */
  final class CommitConflictException(table: String, missing: Iterable[String])
    extends RuntimeException(
      s"concurrent commit conflict on $table: ${missing.size} file(s) this " +
        s"statement read were replaced by another commit " +
        s"(${missing.take(3).mkString(", ")}); re-run the statement against " +
        "the new snapshot (graft.sources.GraftTxn.retryOnConflict)")

  private val Marker = "_graft_v"
  /** A lock whose mtime is older than this is a crashed writer and may
    * be broken. The HOLDER heartbeats the mtime every quarter-window
    * (round 13 — ADVICE r12), so a live commit of any duration is
    * never mistaken for a crash; only a writer that stopped refreshing
    * (process death) goes stale. @volatile: spec seam — concurrency
    * specs shrink the window to exercise the break without minute
    * waits. */
  @volatile private[sources] var StaleLockMs = 60000L
  @volatile private[sources] var LockTimeoutMs = 120000L

  /** The table's data files (what reads see) as TABLE-RELATIVE paths:
    * plain files, hidden (`_`/`.`) names excluded — markers, schema
    * pin, _SUCCESS, crc and the committer's `_temporary` staging never
    * count. Since round 14 (partitioned graft tables) the listing
    * recurses into hive-layout partition directories (`k=v` segments,
    * any depth), so a partitioned file is identified as
    * `"pbucket=3/part-....parquet"` — which makes every file-set-based
    * conflict check PARTITION-GRAIN for free: two statements whose
    * groups live in different partitions have disjoint sets. Non-`=`
    * subdirectories are ignored (they are not table data — the rule
    * Spark's own file listing applies). */
  def dataFiles(dir: File): Set[String] = {
    def walk(f: File, prefix: String): Seq[String] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap { x =>
        if (x.getName.startsWith("_") || x.getName.startsWith(".")) Nil
        else if (x.isFile) Seq(prefix + x.getName)
        else if (x.isDirectory && x.getName.contains("="))
          walk(x, prefix + x.getName + "/")
        else Nil
      }
    walk(dir, "").toSet
  }

  /** Committed version of the table: max `_graft_v<N>` marker, 0 for
    * a table no transactional commit has touched yet. */
  def version(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => Option(f.getName).filter(_.startsWith(Marker))
        .flatMap(n => n.stripPrefix(Marker).toLongOption))
      .maxOption.getOrElse(0L)

  /** Append-only commit log: one `v,epochMicros` line per version
    * bump, written under the lock — what TIMESTAMP AS OF resolves
    * against (version v's state is current from its commit time until
    * v+1's). Lives inside the table dir (underscore-hidden); the
    * delete path's swap copies it across like the schema pin. */
  private[sources] val CommitLog = "_graft_commits"

  /** Write marker v into dir and clear older ones, and append the
    * commit time to the log. Caller holds the lock; a crash between
    * create and clear leaves two markers and `version` takes the
    * max — still correct. The logged time is MONOTONIC over the log
    * (round 13 — VERDICT r12 watch #3): max(now, last + 1µs), so a
    * wall-clock step backwards (NTP; a slow-clocked second writer
    * host on a shared FS) can never record a later version as
    * earlier-in-time — TIMESTAMP AS OF stays order-consistent with
    * VERSION AS OF by construction. */
  private[sources] def writeVersionMarker(dir: File, v: Long): Unit = {
    new File(dir, Marker + v).createNewFile(): Unit
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(Marker) && f.getName != Marker + v)
      .foreach(_.delete())
    val lastMicros = commitTimes(dir).lastOption.map(_._2).getOrElse(0L)
    val micros = math.max(System.currentTimeMillis() * 1000L,
      lastMicros + 1L)
    java.nio.file.Files.write(new File(dir, CommitLog).toPath,
      s"$v,$micros\n".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
  }

  /** (version, commitMicros) pairs from the log, ascending by
    * version. Re-commits of the same version (a broken-lock retry)
    * keep the LAST time. */
  private[sources] def commitTimes(dir: File): Seq[(Long, Long)] = {
    val f = new File(dir, CommitLog)
    if (!f.isFile) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
      .flatMap { line =>
        line.split(",") match {
          case Array(v, t) =>
            for (vv <- v.toLongOption; tt <- t.toLongOption) yield (vv, tt)
          case _ => None
        }
      }
      .groupBy(_._1).map { case (v, xs) => (v, xs.last._2) }
      .toSeq.sortBy(_._1)
  }

  /** TIMESTAMP AS OF resolution: the newest version whose commit time
    * is ≤ `micros` — that version's state was current at the asked
    * instant. None if the table had not had its first commit yet.
    * `filter.lastOption`, NOT takeWhile (ADVICE r12): commit
    * timestamps are wall-clock and a step backwards (NTP correction)
    * between commits must not hide the later qualifying version. */
  private[sources] def versionAt(dir: File, micros: Long): Option[Long] =
    commitTimes(dir).filter(_._2 <= micros).lastOption.map(_._1)

  private[graft] def bumpVersion(dir: File): Unit =
    writeVersionMarker(dir, version(dir) + 1)

  /** Liveness marker inside every stage dir (round 14, ADVICE r13 #1):
    * Spark's task phase writes under `<stage>/_temporary`, which does
    * NOT touch the stage ROOT's mtime, so a long-running staging job
    * (>1h compact/merge) looked abandoned to [[GraftMaintenance.gcDebris]]'s
    * dir-mtime rule and a racing vacuum could sweep a LIVE statement's
    * stage out from under its promote. The marker is refreshed by a
    * dedicated heartbeat thread for as long as the stage exists;
    * gcDebris treats a stage as debris only when BOTH the dir mtime and
    * the marker have gone stale — i.e. the writer stopped heartbeating
    * (process death), the same liveness definition the commit lock
    * uses. */
  private[sources] val StageAliveMarker = "_graft_stage_alive"
  @volatile private[sources] var StageHeartbeatMs = 15000L

  /** A fresh hidden staging directory INSIDE the table dir (same
    * filesystem — promotion is an atomic rename; underscore prefix —
    * invisible to Spark's listing and to [[dataFiles]]). Carries a
    * heartbeated [[StageAliveMarker]] so vacuum's debris GC never
    * mistakes a live long-running staging job for a crashed one. */
  private[sources] def newStageDir(dir: File, kind: String): File = {
    registerTableDir(dir)
    val s = new File(dir,
      s"_stage_${kind}_${System.nanoTime()}_${Thread.currentThread().getId}")
    s.mkdirs()
    val alive = new File(s, StageAliveMarker)
    alive.createNewFile(): Unit
    val hb = new Thread(() => {
      while (s.isDirectory) {
        alive.setLastModified(System.currentTimeMillis()): Unit
        try Thread.sleep(StageHeartbeatMs)
        catch { case _: InterruptedException => () }
      }
    }, s"graft-stage-heartbeat-${s.getName}")
    hb.setDaemon(true)
    hb.start()
    s
  }

  /** Is this stage dir's writer still alive? Fresh = the alive marker
    * (or, belt-and-braces, the dir itself) was touched within
    * `windowMs`. A stage created before the marker existed (older
    * build) degrades to the dir-mtime rule. */
  private[sources] def stageAlive(stage: File, windowMs: Long): Boolean = {
    val cutoff = System.currentTimeMillis() - windowMs
    val marker = new File(stage, StageAliveMarker)
    marker.lastModified() >= cutoff || stage.lastModified() >= cutoff
  }

  /** Move the stage's finalized data files into the live directory,
    * preserving partition-relative paths (parent `k=v` dirs are
    * created as needed). Part-file names carry the write job's UUID —
    * no collisions. Round 15: the promoted files' footer stats are
    * recorded into the table's skipping ledger first ([[GraftStats]] —
    * one footer read per staged file, O(commit), advisory). */
  private[graft] def promoteStage(stage: File, dir: File): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    GraftStats.recordStage(dir, stage)
    dataFiles(stage).foreach { n =>
      val target = new File(dir, n)
      Option(target.getParentFile).foreach(p => if (!p.isDirectory) p.mkdirs())
      Files.move(new File(stage, n).toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }

  private[graft] def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  // ------------------------------------------------- snapshots (round 12)

  /** Retained-snapshot home inside the table dir (underscore prefix —
    * invisible to live reads). `_snapshots/v<N>` holds the table's
    * state AT version N as hard links: zero data copied, old bytes
    * survive the live file's deletion via link count — the same
    * mechanics a table format's manifest retention buys, from the
    * filesystem. */
  private[sources] val SnapshotsDir = "_snapshots"

  /** Default number of versions retained (override with the runtime
    * conf `spark.graft.snapshots.retain`). */
  private[sources] val DefaultRetain = 8

  private[graft] def snapshotDir(dir: File, v: Long): File =
    new File(new File(dir, SnapshotsDir), "v" + v)

  /** Capture the table's CURRENT state (data files + schema pin) as
    * snapshot v<version(dir)> under `snapsHome` — called under the
    * commit lock BEFORE a mutating commit applies its deletes.
    * Hard-link with copy fallback; built in a temp sibling and
    * published by one atomic rename (existence == validity, the
    * artifact-tier rule). Idempotent: an existing snapshot for this
    * version (a retried commit) is left as is. */
  private[sources] def snapshotInto(dir: File, snapsHome: File): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val v = version(dir)
    val snap = new File(snapsHome, "v" + v)
    if (snap.isDirectory) return
    val tmp = new File(snapsHome, s"v${v}_build_${System.nanoTime()}")
    tmp.mkdirs()
    dataFiles(dir).foreach { n =>
      val target = new File(tmp, n)
      Option(target.getParentFile).foreach(p => if (!p.isDirectory) p.mkdirs())
      try Files.createLink(target.toPath, new File(dir, n).toPath)
      catch { case _: UnsupportedOperationException |
          _: java.nio.file.FileSystemException =>
        Files.copy(new File(dir, n).toPath, target.toPath,
          StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    // metadata riders: the pinned schema, (round 14) the partition
    // spec and (round 15) the skipping-stats ledger travel with every
    // snapshot, so a time-travel read of a partitioned table reports
    // its layout — and prunes files — like the live table does
    Seq(GraftCatalog.SchemaFile, GraftCatalog.PartitionsFile,
        GraftPartitions.SpecHistoryFile,
        GraftStats.StatsFile).foreach { m =>
      val f = new File(dir, m)
      if (f.isFile)
        Files.copy(f.toPath, new File(tmp, m).toPath,
          StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // deletion-vector sidecars ride too (round 15): a version's
    // snapshot is only correct under ITS deletion state — hard-linked
    // like the data files
    val dvRoot = new File(dir, GraftDv.DvDir)
    if (dvRoot.isDirectory) linkTree(dvRoot, new File(tmp, GraftDv.DvDir))
    try Files.move(tmp.toPath, snap.toPath,
      StandardCopyOption.ATOMIC_MOVE): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException |
        _: java.nio.file.FileSystemException if snap.isDirectory =>
      rmTree(tmp) // a concurrent retry published first — equivalent state
    }
  }

  /** Hard-link (copy fallback) a small metadata tree — DV sidecars
    * riding snapshots/restore. Hidden entries skipped (stages). */
  private[sources] def linkTree(src: File, dst: File): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Option(src.listFiles()).getOrElse(Array.empty)
      .filterNot(f => f.getName.startsWith(".") &&
        f.getName.contains("stage"))
      .foreach { f =>
        val t = new File(dst, f.getName)
        if (f.isDirectory) linkTree(f, t)
        else {
          Option(t.getParentFile).foreach(p =>
            if (!p.isDirectory) p.mkdirs())
          try Files.createLink(t.toPath, f.toPath)
          catch { case _: UnsupportedOperationException |
              _: java.nio.file.FileSystemException =>
            Files.copy(f.toPath, t.toPath,
              StandardCopyOption.REPLACE_EXISTING): Unit
          }
        }
      }
  }

  private[sources] def snapshotCurrent(dir: File): Unit =
    snapshotInto(dir, new File(dir, SnapshotsDir))

  /** Retained snapshot versions, ascending. */
  private[sources] def snapshotVersions(dir: File): Seq[Long] =
    Option(new File(dir, SnapshotsDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(f => Option(f.getName).filter(_.startsWith("v"))
        .flatMap(_.stripPrefix("v").toLongOption))
      .toSeq.sorted

  /** Drop the oldest snapshots beyond `retain`. Under the lock. */
  private[sources] def pruneSnapshots(dir: File, retain: Int): Unit = {
    val vs = snapshotVersions(dir)
    if (vs.size > retain)
      vs.dropRight(retain).foreach(v => rmTree(snapshotDir(dir, v)))
  }

  /** The session's retention setting (defaults to [[DefaultRetain]]). */
  private[sources] def retention: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => scala.util.Try(
        s.conf.get("spark.graft.snapshots.retain").toInt).toOption)
      .getOrElse(DefaultRetain)

  // reentrant per thread: the row-level rewrite's commit nests the raw
  // write commit; a second acquisition by the holder passes through
  private val held = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  /** Serialize commits on one table: atomic `createNewFile` on the
    * sibling `<dir>.commitlock`, 20 ms spin, stale-break after
    * [[StaleLockMs]] (crashed writer), hard timeout.
    *
    * Round-13 hardening (ADVICE r12 + VERDICT r12 #3):
    *  - HEARTBEAT: the holder refreshes the lock's mtime every
    *    quarter-window from a daemon thread, so a live commit holding
    *    the lock longer than [[StaleLockMs]] (a 100-TB compaction
    *    promoting thousands of files through a slow FS) is never
    *    evicted; staleness now means "stopped heartbeating", i.e. a
    *    dead process.
    *  - ATOMIC BREAK: a waiter breaks a stale lock by RENAMING it to a
    *    nonce'd sibling and deleting the renamed file — only one
    *    breaker's rename succeeds, so two waiters can never both
    *    "delete the stale lock" with one of them actually deleting a
    *    NEW holder's freshly created lock (the read-decide-delete race
    *    the plain delete had). Breakers take turns and re-check inside
    *    their turn, and a seized lock that is not the stale one goes
    *    back ([[breakStaleLock]]).
    *  - OWNERSHIP TOKEN: the holder writes a process+thread+nonce
    *    token into the lock at acquisition and at release deletes the
    *    lock only if the content is still its own token — a holder
    *    whose lock was (wrongly or rightly) broken and re-acquired by
    *    another writer can no longer delete the new holder's lock on
    *    its way out. */
  def withCommitLock[T](dir: File)(body: => T): T = {
    val abs = dir.getAbsoluteFile
    registerTableDir(abs)
    val lock = new File(abs.getParentFile, abs.getName + ".commitlock")
    val key = lock.getAbsolutePath
    if (held.get.contains(key)) return body
    val token =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
        s"#${Thread.currentThread().getId}#${System.nanoTime()}"
    val deadline = System.currentTimeMillis() + LockTimeoutMs
    var acquired = false
    var tokenWritten = false
    while (!acquired) {
      acquired =
        try lock.createNewFile()
        catch { case _: java.io.IOException => false }
      if (acquired) {
        // token write failure is non-fatal: the lock still serializes;
        // only the release-safety check degrades (tracked — round 14)
        try {
          java.nio.file.Files.write(lock.toPath,
            token.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          tokenWritten = true
        } catch { case _: java.io.IOException => () }
      } else {
        val mtime = lock.lastModified() // 0 if it vanished — retry
        if (mtime > 0 && System.currentTimeMillis() - mtime > StaleLockMs)
          breakStaleLock(lock)
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"graft commit lock timeout on $dir (holder crashed without " +
              s"cleanup? stale-break engages after ${StaleLockMs / 1000}s)")
        else Thread.sleep(20)
      }
    }
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      while (!hbStop.get()) {
        lock.setLastModified(System.currentTimeMillis()): Unit
        try Thread.sleep(math.max(25L, StaleLockMs / 4))
        catch { case _: InterruptedException => () } // loop re-checks flag
      }
    }, s"graft-lock-heartbeat-${abs.getName}")
    hb.setDaemon(true)
    hb.start()
    held.get.add(key): Unit
    try body
    finally {
      held.get.remove(key): Unit
      hbStop.set(true)
      hb.interrupt()
      releaseIfOwned(lock, token, tokenWritten)
    }
  }

  /** Break a stale lock via rename-then-delete: the rename is atomic,
    * so exactly one of N concurrent breakers wins; the others' renames
    * fail (lock already moved, or the holder released meanwhile) and
    * they simply re-enter the acquire loop.
    *
    * The caller's staleness check ran before the rename, so the file a
    * rename seizes need not be the one judged stale: another breaker
    * may have removed it and a new holder created a fresh lock in
    * between. Two guards close that gap:
    *  - breakers take turns: each break runs inside `<lock>.breaking`
    *    (atomic `createNewFile`), and repeats the staleness check
    *    there, so no other breaker can replace the lock between the
    *    check and the rename. A `.breaking` file older than
    *    [[StaleLockMs]] is a breaker that died mid-break; it is removed
    *    and the break retried;
    *  - the seized file is deleted only if it still has the mtime and
    *    content just judged stale (a holder that was alive after all
    *    may have released and been succeeded in the gap); otherwise it
    *    goes back under the lock path by `Files.createLink`, which
    *    fails if a newer lock already exists there. */
  private def breakStaleLock(lock: File): Unit = {
    val turn = new File(lock.getParentFile, lock.getName + ".breaking")
    val mine =
      try turn.createNewFile()
      catch { case _: java.io.IOException => false }
    if (!mine) {
      val since = turn.lastModified()
      if (since > 0 && System.currentTimeMillis() - since > StaleLockMs)
        turn.delete(): Unit
      else Thread.sleep(20)
      return
    }
    try {
      val mtime = lock.lastModified()
      val content = lockContent(lock)
      if (mtime > 0 && System.currentTimeMillis() - mtime > StaleLockMs) {
        breakHook()
        val seized = new File(lock.getParentFile,
          lock.getName +
            s".broken_${System.nanoTime()}_${Thread.currentThread().getId}")
        try {
          java.nio.file.Files.move(lock.toPath, seized.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
          if (seized.lastModified() != mtime || lockContent(seized) != content)
            try java.nio.file.Files.createLink(lock.toPath, seized.toPath): Unit
            catch { case _: java.io.IOException => () }
          seized.delete(): Unit
        } catch { case _: java.io.IOException => () }
      }
    } finally turn.delete(): Unit
  }

  /** The lock file's content, or None if it cannot be read (vanished). */
  private def lockContent(lock: File): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(lock.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }

  /** Test seam: runs in [[breakStaleLock]] after its staleness check
    * and before the rename, so a spec can replace the lock inside that
    * gap deterministically. Production value is a no-op. */
  @volatile private[graft] var breakHook: () => Unit = () => ()

  /** Delete the lock only if it still carries OUR token — after a
    * break + re-acquire by another writer, the path holds the new
    * holder's lock and must survive our release.
    *
    * Round-14 hardening (ADVICE r13 #3):
    *  - The delete is the same ATOMIC rename-to-nonce-then-delete dance
    *    [[breakStaleLock]] uses, so release can never race a concurrent
    *    break-and-reacquire into deleting a successor's freshly created
    *    lock — only one party's rename of the path succeeds.
    *  - An EMPTY lock is deleted only when it has also gone STALE
    *    (round 15, ADVICE r14 #3 — the staleness check now applies to
    *    the `tokenWritten = false` branch too): an empty lock at
    *    release time is ambiguous — it may be ours (our token write
    *    failed) or a successor's whose token write also failed after
    *    ours was broken — and a FRESH empty lock is exactly the case
    *    where a live successor is heartbeating it. Leaving our own
    *    token-less lock behind costs one stale-break window for the
    *    next waiter; stripping a live successor's lock costs a
    *    double-commit. Stale-only delete picks the safe direction.
    *  - A vanished lock (read fails) means someone broke ours — nothing
    *    to release. */
  private[graft] def releaseIfOwned(lock: File, token: String,
      tokenWritten: Boolean = true): Unit = {
    def atomicDelete(): Unit = {
      val seized = new File(lock.getParentFile,
        lock.getName +
          s".released_${System.nanoTime()}_${Thread.currentThread().getId}")
      try {
        java.nio.file.Files.move(lock.toPath, seized.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
        seized.delete(): Unit
      } catch { case _: java.io.IOException => () }
    }
    val content = lockContent(lock)
    val _ = tokenWritten // retained for call-site compatibility
    content match {
      case Some(c) if c == token => atomicDelete()
      case Some(c) if c.isEmpty &&
          System.currentTimeMillis() - lock.lastModified() > StaleLockMs =>
        atomicDelete()
      case _ => () // vanished, fresh-empty, or a successor's — leave it
    }
  }

  /** Test seam: runs at every commit entry BEFORE the lock, so a spec
    * can hold N statements at the commit line until all have planned
    * and executed — the deterministic interleave the concurrency specs
    * use. Production value is a no-op. */
  @volatile private[graft] var commitHook: () => Unit = () => ()

  /** Statement-grain retry: re-runs `body` while it fails with a
    * [[CommitConflictException]] anywhere in the cause chain (Spark
    * wraps commit errors), up to `maxAttempts` total runs. Each re-run
    * re-plans against the winner's committed snapshot.
    *
    * Mid-SCAN invalidation retries too: a statement that planned its
    * file listing before a concurrent commit and reads after it can
    * fail with FILE_NOT_EXIST mid-task — the read-side face of the
    * same optimistic race (the loser just happened to be caught while
    * scanning instead of at its own commit validation). Those errors
    * carry a FileNotFoundException / FAILED_READ_FILE in the chain
    * and are equally safe to re-plan. */
  def retryOnConflict[T](maxAttempts: Int = 5)(body: => T): T =
    retryCounted(maxAttempts)(body)._1

  /** [[retryOnConflict]] returning (result, attemptsUsed) — attempts
    * is 1 when no conflict occurred. */
  def retryCounted[T](maxAttempts: Int = 5)(body: => T): (T, Int) = {
    var attempt = 1
    while (true) {
      try return (body, attempt)
      catch {
        case t: Throwable if isConflict(t) && attempt < maxAttempts =>
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  @annotation.tailrec
  private def isConflict(t: Throwable, depth: Int = 0): Boolean =
    t match {
      case null => false
      case _: CommitConflictException => true
      // mid-scan invalidation — but ONLY when the missing path lives
      // under a graft table (ADVICE r12: a genuinely missing source
      // path or dropped non-graft table must propagate on first
      // failure, not be silently re-run maxAttempts times). A bare
      // FileNotFoundException whose message carries NO parseable path
      // at all (wrapped, relativized, locale-formatted — ADVICE r13
      // #4) retries too: it cannot be proven non-graft, retry is
      // bounded by maxAttempts, and losing conflict protection under
      // concurrency is the worse failure direction.
      case e: java.io.FileNotFoundException
        if referencesGraftTable(e.getMessage) ||
          Option(e.getMessage).forall(m =>
            PathToken.findFirstIn(m).isEmpty) => true
      case e if Option(e.getMessage).exists(m =>
        (m.contains("FAILED_READ_FILE") || m.contains("FILE_NOT_EXIST")) &&
          referencesGraftTable(m)) =>
        true
      case _ if depth >= 20 => false // defensive: cyclic cause chains
      case _ => isConflict(t.getCause, depth + 1)
    }

  private val PathToken = "file:(/+[^\\s'\"\\)\\]},;]+)|(/[^\\s'\"\\)\\]},;]+)".r

  /** Graft table directories this JVM has SEEN (registered at lock
    * acquisition, stage creation, and catalog loadTable — round 14,
    * ADVICE r13 #4): a conflict-retry eligibility signal that does not
    * depend on regex-extracting an absolute path from exception text.
    * Bounded by the number of distinct tables a session touches. */
  private val knownTableDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[sources] def registerTableDir(dir: File): Unit =
    knownTableDirs.add(dir.getAbsolutePath): Unit

  /** Does this error message name a path inside a graft table? True
    * when a REGISTERED graft table dir string appears anywhere in the
    * message (robust to wrapped/relativized formatting), or when some
    * path token's ancestor directory (up to 4 levels — the file sits
    * in the table dir, or in `_snapshots/v<N>/` one level down)
    * carries graft markers: the commit log, the schema pin, a
    * `_graft_v` version marker, or a live sibling `.commitlock` (the
    * one signal present even in the instant of the delete path's
    * whole-directory swap, when the table dir itself is mid-rename). */
  private[sources] def referencesGraftTable(msg: String): Boolean =
    msg != null && ({
      val it = knownTableDirs.iterator()
      var hit = false
      while (!hit && it.hasNext) hit = msg.contains(it.next())
      hit
    } || PathToken.findAllMatchIn(msg).exists { m =>
      val raw = Option(m.group(1)).getOrElse(m.group(2))
      val p = new File("/" + raw.dropWhile(_ == '/'))
      Iterator.iterate(p.getParentFile)(f =>
          if (f == null) null else f.getParentFile)
        .takeWhile(_ != null).take(4)
        .exists(isGraftTableDir)
    })

  private def isGraftTableDir(d: File): Boolean =
    new File(d, CommitLog).isFile ||
      new File(d, GraftCatalog.SchemaFile).isFile ||
      new File(d.getParentFile, d.getName + ".commitlock").isFile ||
      Option(d.list()).exists(_.exists(_.startsWith(Marker)))
}
