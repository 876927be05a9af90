package graft.sources

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 lock/clock hardening units (ADVICE r12 + VERDICT r12 #3),
  * in the sources package to reach the private[sources] seams. No
  * SparkSession needed — these are pure filesystem-protocol tests. */
class GraftTxn13Spec extends AnyFunSuite {

  private def freshDir(tag: String): File = {
    val d = new File(sys.props("java.io.tmpdir"),
      s"graft_txn13_${tag}_${System.nanoTime()}")
    d.mkdirs()
    d
  }

  private def withStaleWindow[T](ms: Long)(body: => T): T = {
    val prev = GraftTxn.StaleLockMs
    GraftTxn.StaleLockMs = ms
    try body finally GraftTxn.StaleLockMs = prev
  }

  test("heartbeat: a LIVE holder past StaleLockMs is never evicted; waiters serialize") {
    val dir = freshDir("hb")
    withStaleWindow(300L) {
      val inBody = new AtomicInteger(0)
      val maxInBody = new AtomicInteger(0)
      def section(holdMs: Long): Unit = GraftTxn.withCommitLock(dir) {
        val n = inBody.incrementAndGet()
        maxInBody.updateAndGet(m => math.max(m, n)): Unit
        Thread.sleep(holdMs)
        inBody.decrementAndGet(): Unit
      }
      // holder runs 4x the stale window; without the heartbeat the
      // waiter would break its lock and enter concurrently
      val holder = new Thread(() => section(1200L))
      holder.start()
      Thread.sleep(100) // let the holder acquire first
      val waiter = new Thread(() => section(50L))
      waiter.start()
      holder.join(30000)
      waiter.join(30000)
      assert(maxInBody.get() == 1,
        "a live (heartbeating) holder was evicted: two writers in the " +
          "critical section")
    }
    val lock = new File(dir.getParentFile, dir.getName + ".commitlock")
    assert(!lock.exists(), "lock must be released")
  }

  test("stale break is atomic: N waiters on a crashed lock still serialize") {
    val dir = freshDir("brk")
    withStaleWindow(200L) {
      val lock = new File(dir.getParentFile, dir.getName + ".commitlock")
      assert(lock.createNewFile())
      assert(lock.setLastModified(System.currentTimeMillis() - 10000L))
      val inBody = new AtomicInteger(0)
      val maxInBody = new AtomicInteger(0)
      val threads = (1 to 4).map { _ =>
        new Thread(() => GraftTxn.withCommitLock(dir) {
          val n = inBody.incrementAndGet()
          maxInBody.updateAndGet(m => math.max(m, n)): Unit
          Thread.sleep(40)
          inBody.decrementAndGet(): Unit
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(30000))
      assert(maxInBody.get() == 1,
        "two breakers both 'won' the stale lock — the break is not atomic")
      assert(!lock.exists())
    }
  }

  test("a breaker whose stale lock was replaced by a live holder's in " +
      "the check-to-rename gap puts the live lock back and waits") {
    val dir = freshDir("gap")
    val lock = new File(dir.getParentFile, dir.getName + ".commitlock")
    withStaleWindow(5000L) {
      assert(lock.createNewFile())
      assert(lock.setLastModified(System.currentTimeMillis() - 60000L))
      val fired = new java.util.concurrent.CountDownLatch(1)
      val liveHolds = new java.util.concurrent.atomic.AtomicBoolean(false)
      val entered = new java.util.concurrent.atomic.AtomicBoolean(false)
      val enteredWhileLive =
        new java.util.concurrent.atomic.AtomicBoolean(false)
      // after the breaker judged the crashed lock stale and before its
      // rename: another breaker removes the crashed lock and a live
      // writer creates a fresh one with its token
      GraftTxn.breakHook = () => if (fired.getCount > 0) {
        lock.delete(): Unit
        lock.createNewFile(): Unit
        java.nio.file.Files.write(lock.toPath, "live".getBytes("UTF-8")): Unit
        liveHolds.set(true)
        fired.countDown()
      }
      try {
        val breaker = new Thread(() => GraftTxn.withCommitLock(dir) {
          if (liveHolds.get()) enteredWhileLive.set(true)
          entered.set(true)
        })
        breaker.start()
        assert(fired.await(30, java.util.concurrent.TimeUnit.SECONDS))
        Thread.sleep(300) // the breaker spins meanwhile
        assert(!entered.get(),
          "the breaker entered while the live holder held the lock")
        assert(new String(java.nio.file.Files.readAllBytes(lock.toPath),
          "UTF-8") == "live", "the live holder's lock was not put back")
        liveHolds.set(false)
        GraftTxn.releaseIfOwned(lock, "live")
        breaker.join(30000)
        assert(entered.get(), "the breaker never acquired after the release")
        assert(!enteredWhileLive.get())
      } finally GraftTxn.breakHook = () => ()
    }
    assert(!lock.exists(), "lock must be released")
    assert(dir.getParentFile.list().count(_.startsWith(lock.getName)) == 0,
      "no seized sibling may be left behind")
  }

  test("release is ownership-checked: a holder cannot delete a successor's lock") {
    val dir = freshDir("own")
    val lock = new File(dir.getParentFile, dir.getName + ".commitlock")
    // simulate: our lock was broken and a NEW holder recreated it with
    // its own token — our release must leave it alone
    assert(lock.createNewFile())
    java.nio.file.Files.write(lock.toPath, "someone-else".getBytes("UTF-8"))
    GraftTxn.releaseIfOwned(lock, "my-token")
    assert(lock.exists(), "release deleted a lock it no longer owns")
    GraftTxn.releaseIfOwned(lock, "someone-else")
    assert(!lock.exists(), "the owner's release must delete its own lock")
  }

  test("versionAt survives a wall-clock step backwards between commits") {
    val dir = freshDir("clock")
    // commit log written directly: v1@1000us, v2@900us (NTP step back),
    // v3@1100us
    java.nio.file.Files.write(new File(dir, GraftTxn.CommitLog).toPath,
      "1,1000\n2,900\n3,1100\n".getBytes("UTF-8"))
    assert(GraftTxn.versionAt(dir, 950L) == Some(2L),
      "the max qualifying VERSION must win, not the takeWhile prefix")
    assert(GraftTxn.versionAt(dir, 1050L) == Some(2L))
    assert(GraftTxn.versionAt(dir, 1200L) == Some(3L))
    assert(GraftTxn.versionAt(dir, 800L).isEmpty)
  }

  test("commit-log times are monotonic even when the wall clock steps back") {
    val dir = freshDir("mono")
    // a prior commit stamped FAR in the future (a fast-clocked writer,
    // or an NTP correction about to step this host back)
    val future = (System.currentTimeMillis() + 3600000L) * 1000L
    java.nio.file.Files.write(new File(dir, GraftTxn.CommitLog).toPath,
      s"1,$future\n".getBytes("UTF-8"))
    GraftTxn.writeVersionMarker(dir, 2L)
    val times = GraftTxn.commitTimes(dir)
    assert(times.map(_._1) == Seq(1L, 2L))
    assert(times(1)._2 == future + 1L,
      s"v2 must be stamped after v1 regardless of the wall clock: $times")
    assert(GraftTxn.versionAt(dir, future + 1L) == Some(2L))
  }

  test("FNFE retry is scoped to graft tables: unrelated missing files propagate") {
    // a graft table dir: carries the commit log marker
    val table = freshDir("scope")
    java.nio.file.Files.write(new File(table, GraftTxn.CommitLog).toPath,
      "1,1000\n".getBytes("UTF-8"))
    val graftMsg =
      s"File file:${table.getAbsolutePath}/part-0.parquet does not exist"
    val otherMsg = "File file:/definitely/not/a/graft/table/x.parquet " +
      "does not exist"
    assert(GraftTxn.referencesGraftTable(graftMsg))
    assert(!GraftTxn.referencesGraftTable(otherMsg))
    // through the public retry surface: graft-path FNFE retries...
    var calls = 0
    val (_, attempts) = GraftTxn.retryCounted(3) {
      calls += 1
      if (calls == 1) throw new java.io.FileNotFoundException(graftMsg)
    }
    assert(attempts == 2)
    // ...an unrelated FNFE propagates on the FIRST failure
    var otherCalls = 0
    val thrown = intercept[java.io.FileNotFoundException] {
      GraftTxn.retryCounted(5) {
        otherCalls += 1
        throw new java.io.FileNotFoundException(otherMsg)
      }
    }
    assert(thrown.getMessage == otherMsg)
    assert(otherCalls == 1, "unrelated FNFE must not be re-run")
  }

  test("a mid-swap FNFE still retries: the sibling commitlock marks the table") {
    // during the delete path's whole-dir swap the table dir itself is
    // mid-rename, but the holder's .commitlock sibling exists — that
    // signal alone must classify the path as graft
    val parent = freshDir("swap")
    val tableName = "t"
    val lock = new File(parent, tableName + ".commitlock")
    assert(lock.createNewFile())
    val msg = s"File file:${parent.getAbsolutePath}/$tableName/" +
      "part-1.parquet does not exist"
    assert(GraftTxn.referencesGraftTable(msg))
    lock.delete(): Unit
  }
}
