package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

/** The staged-artifact tier's standing invariants (VERDICT r11 asks #7
  * and ADVICE r11 on StagedVersion), the lint that keeps it the one
  * build-once path for files, and BuildLog's per-run reset:
  *
  *  1. PUBLISH RACE: two builders racing one fingerprint home — one
  *     atomic rename wins, the loser's temp is discarded, the home
  *     only ever holds ONE complete build (existence == validity).
  *  2. VERSION COVERAGE: StagedVersion is content-derived from the
  *     builder modules' classfiles; this spec asserts the class list
  *     covers every source file that calls the staging API, so a new
  *     staged family cannot silently opt out of re-keying.
  */
class StagedArtifactSpec extends AnyFunSuite {

  test("concurrent publishShared: exactly one winner, loser temp discarded") {
    val root = Files.createTempDirectory("graft_pub_race").toFile
    val target = new File(root, "artifact_home")
    def buildTemp(content: String): File = {
      val t = new File(root, s"build_$content")
      t.mkdirs()
      Files.write(new File(t, "data.txt").toPath,
        content.getBytes("UTF-8"))
      // a second file so a non-atomic publish could be caught half-way
      Files.write(new File(t, "data2.txt").toPath,
        (content * 2).getBytes("UTF-8"))
      t
    }
    val ta = buildTemp("AAAA")
    val tb = buildTemp("BBBB")
    val start = new CountDownLatch(1)
    def race(t: File): Future[Boolean] = Future {
      start.await()
      Tables.publishShared(t, target)
    }
    val fa = race(ta); val fb = race(tb)
    start.countDown()
    val (wa, wb) = (Await.result(fa, 30.seconds), Await.result(fb, 30.seconds))
    assert(wa ^ wb, s"exactly one publisher must win (got a=$wa b=$wb)")
    // the home holds ONE build, complete (both its files, same content)
    val d1 = new String(Files.readAllBytes(
      new File(target, "data.txt").toPath), "UTF-8")
    val d2 = new String(Files.readAllBytes(
      new File(target, "data2.txt").toPath), "UTF-8")
    assert(d2 == d1 * 2, s"home mixed two builds: $d1 / $d2")
    assert(Set("AAAA", "BBBB").contains(d1))
    // loser's temp removed; winner's temp became the home
    assert(!ta.exists() && !tb.exists(),
      "both temps must be gone after the race (one renamed, one deleted)")
    // idempotent re-publish of a third build loses cleanly too
    val tc = buildTemp("CCCC")
    assert(!Tables.publishShared(tc, target))
    assert(!tc.exists())
    assert(new String(Files.readAllBytes(
      new File(target, "data.txt").toPath), "UTF-8") == d1)
  }

  test("ensureStaged: concurrent same-home builders both return a complete home") {
    val root = Files.createTempDirectory("graft_ensure_race").toFile
    val home = new File(root, "staged_home")
    val start = new CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def run(tag: String): Future[Unit] = Future {
      start.await()
      Tables.ensureStaged(home) { tmp =>
        builds.incrementAndGet()
        Files.write(new File(tmp, "payload.txt").toPath,
          tag.getBytes("UTF-8")): Unit
      }
    }
    val fa = run("A"); val fb = run("B")
    start.countDown()
    Await.result(fa, 30.seconds); Await.result(fb, 30.seconds)
    assert(home.isDirectory)
    val payload = new String(Files.readAllBytes(
      new File(home, "payload.txt").toPath), "UTF-8")
    assert(Set("A", "B").contains(payload))
    // both may build (distinct call-unique temps), but no temp survives
    val leftovers = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.contains(".build_"))
    assert(leftovers.isEmpty, s"stray build temps: ${leftovers.toSeq}")
    assert(builds.get() >= 1)
  }

  test("ensureStaged: a build that throws leaves neither a home nor a build temp") {
    val root = Files.createTempDirectory("graft_ensure_fail").toFile
    val home = new File(root, "staged_home")
    val boom = intercept[IllegalStateException] {
      Tables.ensureStaged(home) { tmp =>
        Files.write(new File(tmp, "half.txt").toPath, "x".getBytes("UTF-8"))
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    assert(!home.exists())
    assert(Option(root.listFiles()).getOrElse(Array.empty).isEmpty,
      s"stray build temps: ${root.listFiles().map(_.getName).toSeq}")
    // the next call builds from scratch
    Tables.ensureStaged(home)(tmp =>
      Files.write(new File(tmp, "ok.txt").toPath, "y".getBytes("UTF-8")): Unit)
    assert(home.list().toSeq == Seq("ok.txt"))
    Tables.rm(root)
  }

  test("scratchHome: two threads staging one home at once both get a complete home") {
    // the key reads only each source table's file names, sizes and mtimes
    val corpus = Files.createTempDirectory("graft_scratch_corpus").toFile
    Seq("orders", "lineitem").foreach(t => Files.write(
      new File(corpus, s"$t.parquet").toPath, t.getBytes("UTF-8")))
    val home = Tables.scratchHome("spec_race", corpus.getAbsolutePath,
      Seq("orders", "lineitem"), "v1")
    assert(!home.exists())
    val start = new CountDownLatch(1)
    def run(tag: String): Future[Seq[String]] = Future {
      start.await()
      Tables.ensureStaged(home) { tmp =>
        Seq("batch0", "batch1").foreach { n =>
          Files.write(new File(tmp, n).toPath, tag.getBytes("UTF-8"))
          Thread.sleep(20) // widen the window a non-atomic publish exposes
        }
      }
      // what this caller's consumer reads once ensureStaged returns
      Seq("batch0", "batch1").map(n =>
        new String(Files.readAllBytes(new File(home, n).toPath), "UTF-8"))
    }
    val fa = run("A"); val fb = run("B")
    start.countDown()
    val (ra, rb) = (Await.result(fa, 30.seconds), Await.result(fb, 30.seconds))
    // each caller saw both files, from ONE build, and the same build
    assert(ra.distinct.size == 1 && Set("A", "B").contains(ra.head), ra)
    assert(rb == ra)
    val leftovers = home.getParentFile.list()
      .filter(_.startsWith(home.getName + ".build_"))
    assert(leftovers.isEmpty, s"stray build temps: ${leftovers.toSeq}")
    Tables.rm(home)
    Tables.rm(corpus)
  }

  /** A call of the staging tier's internals, or a hand-written staging
    * marker file. */
  private val handStaging =
    """\b(?:sharedBuildDir|publishShared)\(|_(?:staged|agg)_from_src""".r

  test("lint pattern: catches hand-rolled staging, passes the rest") {
    val bad = Seq(
      "val tmp = Tables.sharedBuildDir(home)",
      "Tables.publishShared(tmp, home)",
      "publishShared(build, home): Unit",
      """val marker = dir.resolve("_staged_from_src")""",
      """val marker = baseDir.resolve("_agg_from_src")""")
    val ok = Seq(
      "Tables.ensureStaged(home) { tmp =>",
      """Tables.stagedHome("x", sfDir, Seq("orders"), "v1")""",
      """Tables.scratchHome("x", sfDir, Seq("events"), "v1")""",
      "// one atomic rename ([[publishShared]])",
      """Files.exists(dir.resolve("_SUCCESS"))""")
    bad.foreach(t => assert(handStaging.findFirstIn(t).nonEmpty, t))
    ok.foreach(t => assert(handStaging.findFirstIn(t).isEmpty, t))
  }

  test("lint: only Tables.scala publishes staged artifacts") {
    val srcRoot = new File("src/main/scala")
    assert(srcRoot.isDirectory, "spec expects repo-root working dir")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val offenders = for {
      f <- walk(srcRoot) if f.getName != "Tables.scala"
      text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      m <- handStaging.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      s"staging by hand (use Tables.ensureStaged, which cleans up a " +
        s"failed build and notes the build in BuildLog): $offenders")
  }

  test("BuildLog.reset: a new run starts with no builds and no current query") {
    BuildLog.setCurrent("spec_run1")
    BuildLog.note("spec_artifact")
    assert(BuildLog.snapshot().get("spec_run1").exists(_.contains("spec_artifact")))
    BuildLog.reset()
    assert(BuildLog.snapshot().isEmpty)
    // no query on the clock: a build noted now is attributed to nothing
    BuildLog.note("spec_unattributed")
    assert(BuildLog.snapshot().isEmpty)
  }

  test("StagedVersion: content-derived, stable, and covers every staging call site") {
    val v = Tables.StagedVersion
    assert(v.nonEmpty && v == Tables.StagedVersion)
    // every source file calling the staging API must be one of the
    // fingerprinted builder classes — a new family added elsewhere
    // would dodge re-keying on builder change
    val srcRoot = new File("src/main/scala")
    assert(srcRoot.isDirectory, "spec expects repo-root working dir")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val api = Seq("stagedHome(", "scratchHome(", "sharedDir(", "stagedFrame(",
      "ensureStaged(")
    val callers = walk(srcRoot).filter { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      api.exists(text.contains)
    }
    val covered = Tables.StagedBuilderClasses
      .map(_.split("\\.").last + ".scala").toSet
    val missing = callers.map(_.getName).filterNot(covered)
    assert(missing.isEmpty,
      s"files calling the staging API but absent from " +
        s"Tables.StagedBuilderClasses: $missing — add them so builder " +
        "changes re-key their artifacts")
  }
}
