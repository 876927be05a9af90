package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, GraftCdf, GraftDv, GraftMultiTxn, GraftStats, GraftTxn}

/** Round-16 merge-on-read DML (VERDICT r15 asks #1 and #3): the
  * SupportsDelta UPDATE/MERGE path — zero-rewrite pins, cross-commit
  * composition, the racing-writer DV-state conflict, the ratio
  * materialization guard, partitioned layouts — plus the
  * executor-side DV/stats refactor's value-identity claims. */
class Round16Spec extends SparkSpec {

  private def freshCatalog(tag: String): String = {
    val base = new File(sys.props("java.io.tmpdir"),
      s"graft_r16_spec_${tag}_${System.nanoTime()}")
    spark.conf.set(s"spark.sql.catalog.$tag",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$tag.base", base.getAbsolutePath)
    base.getAbsolutePath
  }

  private def mkDvTable(cat: String, base: String, n: Long = 1000,
      ratio: String = "0.9", cdf: Boolean = false): File = {
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
      s"('graft.dv.enabled'='true','graft.dv.maxRatio'='$ratio'" +
      (if (cdf) ",'graft.cdf.enabled'='true'" else "") + ") AS " +
      s"SELECT id AS k, CAST(id * 10 AS BIGINT) AS v FROM range(0, $n)")
    new File(base, "t")
  }

  test("merge-on-read UPDATE: zero rewrites, sidecars land, values exact") {
    val base = freshCatalog("p16a")
    val dir = mkDvTable("p16a", base)
    val before = GraftTxn.dataFiles(dir)
    spark.sql("UPDATE p16a.t SET v = v + 1 WHERE k < 50")
    val after = GraftTxn.dataFiles(dir)
    assert(before.subsetOf(after), "no pre-existing file may be rewritten")
    assert((after diff before).nonEmpty, "new images must append")
    assert(GraftDv.hasDvs(dir), "old rows must be position-deleted")
    val r = spark.table("p16a.t").agg(count(lit(1)), sum(col("v"))).head()
    assert(r.getLong(0) == 1000)
    assert(r.getLong(1) == (0L until 1000L).map(_ * 10).sum + 50)
    // the appended files are bit-identical too: positions only ever
    // reference files; delete images never rewrite
    spark.sql("DROP TABLE IF EXISTS p16a.t"): Unit
  }

  test("merge-on-read updates COMPOSE across commits (positions on the appended file)") {
    val base = freshCatalog("p16b")
    val dir = mkDvTable("p16b", base)
    spark.sql("UPDATE p16b.t SET v = v + 1 WHERE k < 40")
    val filesV2 = GraftTxn.dataFiles(dir)
    spark.sql("UPDATE p16b.t SET v = v + 100 WHERE k < 20") // hits v2's file
    assert(filesV2.subsetOf(GraftTxn.dataFiles(dir)))
    val r = spark.table("p16b.t").agg(sum(col("v"))).head()
    assert(r.getLong(0) == (0L until 1000L).map(_ * 10).sum + 40 + 2000)
    // time travel: each version reads its own deletion state
    assert(spark.sql("SELECT sum(v) FROM p16b.t VERSION AS OF 2")
      .head().getLong(0) == (0L until 1000L).map(_ * 10).sum + 40)
    spark.sql("DROP TABLE IF EXISTS p16b.t"): Unit
  }

  test("racing merge-on-read updates of the SAME rows: loser conflicts and retries (no double-insert)") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = freshCatalog("p16c")
    mkDvTable("p16c", base)
    val latch = new CountDownLatch(2)
    GraftTxn.commitHook = () => {
      latch.countDown()
      latch.await(60, TimeUnit.SECONDS): Unit
    }
    val attempts = try {
      val fa = Future(GraftTxn.retryCounted(5) {
        spark.sql("UPDATE p16c.t SET v = v + 100 WHERE k < 30")
          .collect(): Unit
      }._2)
      val fb = Future(GraftTxn.retryCounted(5) {
        spark.sql("UPDATE p16c.t SET v = v + 1000 WHERE k < 30")
          .collect(): Unit
      }._2)
      Seq(Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    } finally GraftTxn.commitHook = () => ()
    assert(attempts.sorted == Seq(1, 2),
      s"same-file writers must serialize via the DV-state conflict: $attempts")
    // serialized result: BOTH updates applied exactly once
    val r = spark.table("p16c.t").agg(count(lit(1)), sum(col("v"))).head()
    assert(r.getLong(0) == 1000, "a double-insert would inflate the count")
    assert(r.getLong(1) == (0L until 1000L).map(_ * 10).sum + 30 * 1100)
    spark.sql("DROP TABLE IF EXISTS p16c.t"): Unit
  }

  test("ratio guard: an update past graft.dv.maxRatio materializes post-commit") {
    val base = freshCatalog("p16d")
    val dir = mkDvTable("p16d", base, ratio = "0.2")
    val before = GraftTxn.dataFiles(dir)
    spark.sql("UPDATE p16d.t SET v = v + 1 WHERE k % 2 = 0") // 50% > 0.2
    assert(!GraftDv.hasDvs(dir),
      "past-ratio positions must fold into rewritten files")
    assert((before diff GraftTxn.dataFiles(dir)).nonEmpty,
      "materialization rewrites the DV'd files")
    val r = spark.table("p16d.t").agg(count(lit(1)), sum(col("v"))).head()
    assert(r.getLong(0) == 1000)
    assert(r.getLong(1) == (0L until 1000L).map(_ * 10).sum + 500)
    spark.sql("DROP TABLE IF EXISTS p16d.t"): Unit
  }

  test("merge-on-read MERGE: matched update + not-matched insert, zero rewrites") {
    val base = freshCatalog("p16e")
    val dir = mkDvTable("p16e", base, cdf = true)
    val before = GraftTxn.dataFiles(dir)
    spark.sql("SELECT id AS k, CAST(-7 AS BIGINT) AS v " +
      "FROM range(990, 1010)").createOrReplaceTempView("src16e")
    spark.sql("MERGE INTO p16e.t t USING src16e s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(before.subsetOf(GraftTxn.dataFiles(dir)))
    assert(GraftDv.hasDvs(dir))
    val r = spark.table("p16e.t").agg(count(lit(1)), sum(col("v"))).head()
    assert(r.getLong(0) == 1010)
    assert(r.getLong(1) ==
      (0L until 990L).map(_ * 10).sum + 20L * -7)
    // CDF classes: 10 matched deletes + 20 inserts (10 updates' new
    // images + 10 brand-new keys)
    val cdf = GraftCdf.rows(spark, dir)
      .filter(col("_commit_version") === 2L)
      .groupBy(col("_change_type")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(cdf == Map("delete" -> 10L, "insert" -> 20L), s"got $cdf")
    spark.sql("DROP TABLE IF EXISTS p16e.t"): Unit
  }

  test("merge-on-read UPDATE on an identity-partitioned table keeps layout and values") {
    val base = freshCatalog("p16f")
    spark.sql("DROP TABLE IF EXISTS p16f.t")
    spark.sql("CREATE TABLE p16f.t (k BIGINT, v BIGINT, p INT) " +
      "PARTITIONED BY (p) TBLPROPERTIES " +
      "('graft.dv.enabled'='true','graft.dv.maxRatio'='0.9')")
    spark.sql("INSERT INTO p16f.t SELECT id, id * 10, " +
      "CAST(id % 4 AS INT) FROM range(0, 400)")
    val dir = new File(base, "t")
    val before = GraftTxn.dataFiles(dir)
    // keys ≡ 2 (mod 16): spread across every p=2 file, so each file
    // stays well under maxRatio and the merge-on-read form persists
    spark.sql("UPDATE p16f.t SET v = v + 1 WHERE p = 2 AND k % 16 = 2")
    assert(before.subsetOf(GraftTxn.dataFiles(dir)))
    assert(GraftDv.hasDvs(dir))
    // new images landed INSIDE the p=2 hive dir, partition value intact
    val added = GraftTxn.dataFiles(dir) diff before
    assert(added.nonEmpty && added.forall(_.startsWith("p=2/")),
      s"new images must re-split into their partition dir: $added")
    val r = spark.table("p16f.t").filter(col("p") === 2)
      .agg(count(lit(1)), sum(col("v"))).head()
    val keys = (0L until 400L).filter(_ % 4 == 2)
    assert(r.getLong(0) == keys.size)
    assert(r.getLong(1) == keys.map(_ * 10).sum + keys.count(_ % 16 == 2))
    spark.sql("DROP TABLE IF EXISTS p16f.t"): Unit
  }

  test("materialize on a partitioned table keeps hive layout and partition values") {
    val base = freshCatalog("p16j")
    spark.sql("DROP TABLE IF EXISTS p16j.t")
    spark.sql("CREATE TABLE p16j.t (k BIGINT, v BIGINT, p INT) " +
      "PARTITIONED BY (p) TBLPROPERTIES " +
      "('graft.dv.enabled'='true','graft.dv.maxRatio'='0.2')")
    spark.sql("INSERT INTO p16j.t SELECT id, id * 10, " +
      "CAST(id % 4 AS INT) FROM range(0, 400)")
    val dir = new File(base, "t")
    // range-contiguous files: k < 100 ∧ p = 2 fully deletes some
    // files → past-ratio → the statement materializes post-commit
    spark.sql("UPDATE p16j.t SET v = v + 1 WHERE p = 2 AND k < 100")
    assert(!GraftDv.hasDvs(dir), "past-ratio positions must fold")
    val files = GraftTxn.dataFiles(dir)
    assert(files.forall(_.matches("^p=\\d/.*")),
      s"materialize must preserve the hive layout, got $files")
    val r = spark.table("p16j.t").filter(col("p") === 2)
      .agg(count(lit(1)), sum(col("v"))).head()
    val keys = (0L until 400L).filter(_ % 4 == 2)
    assert(r.getLong(0) == keys.size,
      "materialized survivors must keep their partition values")
    assert(r.getLong(1) == keys.map(_ * 10).sum + keys.count(_ < 100))
    // the other partitions are untouched
    assert(spark.table("p16j.t").filter(col("p") =!= 2).count() == 300)
    spark.sql("DROP TABLE IF EXISTS p16j.t"): Unit
  }

  test("DV sidecars roundtrip executor-side (writePositions/readPositions) and scans ship refs only") {
    val base = freshCatalog("p16g")
    val dir = mkDvTable("p16g", base)
    spark.sql("UPDATE p16g.t SET v = v + 1 WHERE k < 25")
    val refs = GraftDv.sidecarRefs(dir)
    assert(refs.nonEmpty)
    // refs are file NAMES (strings), not position payloads — the
    // executor reads each file's set locally; assert the roundtrip
    refs.foreach { case (rel, paths) =>
      val pos = GraftDv.readPositions(paths)
      assert(pos.nonEmpty && pos.sameElements(pos.sorted.distinct))
      assert(pos.sameElements(GraftDv.positionsOf(dir, rel)))
    }
    // a scan through the refs-carrying reader equals the logical state
    assert(spark.table("p16g.t").count() == 1000)
    spark.sql("DROP TABLE IF EXISTS p16g.t"): Unit
  }

  test("commit-time stats collect as one executor job; ledger row counts stay exact") {
    val base = freshCatalog("p16h")
    spark.sql("DROP TABLE IF EXISTS p16h.t")
    spark.sql("CREATE TABLE p16h.t AS SELECT id AS k, id * 3 AS v " +
      "FROM range(0, 900)")
    val dir = new File(base, "t")
    val ledger = GraftStats.load(dir)
    val files = GraftTxn.dataFiles(dir)
    assert(files.nonEmpty && files.forall(ledger.contains),
      "every committed file must carry ledger stats")
    val totalRows = files.toSeq.map(f =>
      ledger(f).values.head.rowCount).sum
    assert(totalRows == 900L,
      s"executor-collected row counts must be exact, got $totalRows")
    // per-file min/max agree with a real scan of that file
    val some = files.head
    val st = ledger(some)("k")
    val actual = spark.read.parquet(new File(dir, some).getAbsolutePath)
      .agg(min(col("k")), max(col("k"))).head()
    assert(st.min.contains(actual.getLong(0).toString) &&
      st.max.contains(actual.getLong(1).toString))
    spark.sql("DROP TABLE IF EXISTS p16h.t"): Unit
  }

  test("ALTER COLUMN TYPE widens metadata-only; narrowing rejects; mixed files aggregate") {
    freshCatalog("p16k")
    spark.sql("DROP TABLE IF EXISTS p16k.t")
    spark.sql("CREATE TABLE p16k.t AS SELECT CAST(id AS INT) AS k, " +
      "CAST(id AS FLOAT) AS f, CAST(id AS DECIMAL(9,2)) AS m " +
      "FROM range(0, 100)")
    spark.sql("ALTER TABLE p16k.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE p16k.t ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE p16k.t ALTER COLUMN m TYPE DECIMAL(14,2)")
    // a row only the widened types can hold, appended beside the old
    // int32/float/dec(9,2) files
    spark.sql("INSERT INTO p16k.t VALUES (5000000000, 1.5D, " +
      "CAST(123456789012.34 AS DECIMAL(14,2)))")
    val r = spark.table("p16k.t")
      .agg(sum(col("k")), sum(col("m"))).head()
    assert(r.getLong(0) == (0L until 100L).sum + 5000000000L)
    assert(r.getDecimal(1) ==
      new java.math.BigDecimal("123456793962.34"))
    // narrowing rejects with the old state intact (Spark's analyzer
    // catches long->int via canAlterColumnType; shapes that slip past
    // it hit the catalog's own widens() guard)
    intercept[Exception](
      spark.sql("ALTER TABLE p16k.t ALTER COLUMN k TYPE INT"))
    assert(spark.table("p16k.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // a scale change is NOT a widening either
    intercept[Exception](
      spark.sql("ALTER TABLE p16k.t ALTER COLUMN m TYPE DECIMAL(16,4)"))
    spark.sql("DROP TABLE IF EXISTS p16k.t"): Unit
  }

  test("partition-spec evolution: metadata-only, dual-layout pruning, rejections") {
    val base = freshCatalog("p16l")
    spark.sql("DROP TABLE IF EXISTS p16l.t")
    spark.sql("CREATE TABLE p16l.t (k BIGINT, ts TIMESTAMP, v DOUBLE)")
    spark.sql("INSERT INTO p16l.t SELECT id, " +
      "timestamp_micros(CAST(1704067200000000 + id * 86400000000 " +
      "AS LONG)), CAST(id AS DOUBLE) FROM range(0, 8)")
    val dir = new File(base, "t")
    val before = GraftTxn.dataFiles(dir)
    val vPre = GraftTxn.version(dir)
    val sid = spark.sql(
      "CALL p16l.evolve_partitions('t', 'days(ts)')").head().getLong(0)
    assert(sid == 1L)
    assert(GraftTxn.dataFiles(dir) == before,
      "evolution is metadata-only — no file moves")
    spark.sql("INSERT INTO p16l.t SELECT id + 8, " +
      "timestamp_micros(CAST(1704067200000000 + (id + 8) * 86400000000 " +
      "AS LONG)), CAST(id + 8 AS DOUBLE) FROM range(0, 8)")
    val files = GraftTxn.dataFiles(dir)
    val (oldF, newF) = files.partition(!_.contains("/"))
    assert(oldF == before && newF.nonEmpty &&
      newF.forall(_.matches("ts_day=\\d+/.*")))
    // one-day point query: new files prune by DAY DIR, old files by
    // the stats ledger (INT64 micros bounds)
    val day12 = spark.table("p16l.t").filter(
      col("ts") >= lit("2024-01-13 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-14 00:00:00").cast("timestamp"))
    assert(day12.count() == 1)
    val (listed, kept) = GraftStats.lastReport(dir.getAbsolutePath)
    assert(listed == files.size && kept <= 2,
      s"both layouts must prune: listed=$listed kept=$kept")
    // full scan still reads everything
    assert(spark.table("p16l.t").count() == 16)
    // time travel across the boundary reads the pre-evolution rows
    assert(spark.sql(s"SELECT COUNT(*) FROM p16l.t VERSION AS OF $vPre")
      .head().getLong(0) == 8)
    // identity tables reject; so does evolving to identity
    spark.sql("DROP TABLE IF EXISTS p16l.ident")
    spark.sql("CREATE TABLE p16l.ident (k BIGINT, p INT) " +
      "PARTITIONED BY (p)")
    intercept[Exception](spark.sql(
      "CALL p16l.evolve_partitions('ident', 'days(k)')"))
    intercept[Exception](spark.sql(
      "CALL p16l.evolve_partitions('t', 'p')"))
    spark.sql("DROP TABLE IF EXISTS p16l.ident")
    spark.sql("DROP TABLE IF EXISTS p16l.t"): Unit
  }

  test("session txn: conflict when a touched table commits between BEGIN and COMMIT") {
    freshCatalog("p16m")
    spark.sql("DROP TABLE IF EXISTS p16m.t")
    spark.sql("CREATE TABLE p16m.t AS SELECT id AS k, id * 10 AS v " +
      "FROM range(0, 50)")
    spark.sql("BEGIN")
    spark.sql("UPDATE p16m.t SET v = v + 1 WHERE k < 5")
    // a concurrent writer (DataFrame API bypasses the txn redirect)
    spark.range(100, 101).selectExpr("id AS k", "id AS v")
      .writeTo("p16m.t").append()
    intercept[Exception](spark.sql("COMMIT"))
    // first committer won; the transaction's statements are gone
    assert(spark.table("p16m.t").count() == 51)
    assert(spark.table("p16m.t").filter(col("v") % 10 =!= 0).count() <= 1)
    // the session is usable again
    spark.sql("BEGIN")
    spark.sql("UPDATE p16m.t SET v = v + 1 WHERE k = 0")
    spark.sql("COMMIT")
    assert(spark.table("p16m.t").filter(col("k") === 0)
      .head().getLong(1) == 1L)
    spark.sql("DROP TABLE IF EXISTS p16m.t"): Unit
  }

  test("session txn: crash mid-commit leaves a pending manifest; recover restores BOTH tables") {
    freshCatalog("p16n")
    spark.sql("DROP TABLE IF EXISTS p16n.a")
    spark.sql("DROP TABLE IF EXISTS p16n.b")
    spark.sql("CREATE TABLE p16n.a AS SELECT id AS k FROM range(0, 20)")
    spark.sql("CREATE TABLE p16n.b AS SELECT id AS k FROM range(0, 20)")
    val dirA = new File(spark.conf.get("spark.sql.catalog.p16n.base"), "a")
    val dirB = new File(spark.conf.get("spark.sql.catalog.p16n.base"), "b")
    val (vA, vB) = (GraftTxn.version(dirA), GraftTxn.version(dirB))
    spark.sql("BEGIN")
    spark.sql("DELETE FROM p16n.a WHERE k >= 10")
    spark.sql("INSERT INTO p16n.b VALUES (100)")
    // crash between the two promotes — the mtxn atomicity window
    GraftMultiTxn.promoteHook = i =>
      if (i == 1) throw new RuntimeException("boom: crash mid-commit")
    try intercept[Exception](spark.sql("COMMIT"))
    finally GraftMultiTxn.promoteHook = _ => ()
    // recovery rolls the half-done commit BACK: neither table changed
    assert(GraftMultiTxn.recover(dirA) + GraftMultiTxn.recover(dirB) >= 1)
    assert(spark.table("p16n.a").count() == 20 &&
      spark.table("p16n.b").count() == 20)
    assert(GraftTxn.version(dirA) == vA && GraftTxn.version(dirB) == vB)
    spark.sql("DROP TABLE IF EXISTS p16n.a")
    spark.sql("DROP TABLE IF EXISTS p16n.b"): Unit
  }

  test("session txn: DML on a non-graft target inside a transaction rejects") {
    freshCatalog("p16o")
    spark.sql("DROP TABLE IF EXISTS p16o.t")
    spark.sql("CREATE TABLE p16o.t AS SELECT id AS k FROM range(0, 5)")
    spark.sql("BEGIN")
    try {
      intercept[Exception](
        spark.sql("DELETE FROM some_session_table WHERE 1 = 1"))
      // graft DML still fine afterwards; nested BEGIN rejects
      intercept[Exception](spark.sql("BEGIN"))
      spark.sql("INSERT INTO p16o.t VALUES (99)")
    } finally spark.sql("ROLLBACK")
    assert(spark.table("p16o.t").count() == 5)
    spark.sql("DROP TABLE IF EXISTS p16o.t"): Unit
  }

  test("mv refresh: both crash windows resolve exactly-once (no lost delta, no double-apply)") {
    import graft.sources.GraftMv
    val base = freshCatalog("p16p")
    spark.sql("DROP TABLE IF EXISTS p16p.b")
    spark.sql("CREATE TABLE p16p.b TBLPROPERTIES " +
      "('graft.cdf.enabled'='true') AS SELECT id AS k, " +
      "CAST(id % 3 AS INT) AS g, CAST(id AS DECIMAL(12,2)) AS p " +
      "FROM range(0, 300)")
    spark.sql("CREATE MATERIALIZED VIEW p16p.mv AS " +
      "SELECT g, count(*) AS n, sum(p) AS total FROM p16p.b GROUP BY g")
    val catBase = new File(base)
    val mvDir = new File(base, "mv")
    def recompute() = spark.sql(
      "SELECT g, count(*) AS n, sum(p) AS total FROM p16p.b GROUP BY g")
    // WINDOW 1: crash BEFORE the MV commit (intent stored, commit
    // never ran) — the next refresh discards the intent and redoes
    spark.sql("UPDATE p16p.b SET p = p + 1 WHERE k < 30")
    GraftTxn.commitHook = () =>
      throw new RuntimeException("boom: pre-commit crash")
    try intercept[Exception](
      GraftMv.refresh(spark, catBase, "mv"))
    finally GraftTxn.commitHook = () => ()
    assert(GraftMv.load(GraftMv.defFile(catBase, "mv"))
      .pendingTo.nonEmpty, "the intent must be durable before the commit")
    val (v1, _) = GraftMv.refresh(spark, catBase, "mv")
    assert(v1 == 1L, "the crashed delta must be re-applied")
    assert(spark.table("p16p.mv").exceptAll(recompute()).isEmpty)
    // WINDOW 2: crash AFTER the commit but BEFORE the watermark —
    // constructed via the def API: reset the watermark with an intent
    // that points at the committed state
    spark.sql("DELETE FROM p16p.b WHERE k >= 290")
    val dBefore = GraftMv.load(GraftMv.defFile(catBase, "mv"))
    val mvVerBefore = GraftTxn.version(mvDir)
    val (v2, _) = GraftMv.refresh(spark, catBase, "mv")
    assert(v2 == 1L)
    val dAfter = GraftMv.load(GraftMv.defFile(catBase, "mv"))
    GraftMv.store(GraftMv.defFile(catBase, "mv"), dAfter.copy(
      lastVersion = dBefore.lastVersion,
      pendingTo = Some(dAfter.lastVersion),
      mvVersionBefore = Some(mvVerBefore)))
    val (v3, n3) = GraftMv.refresh(spark, catBase, "mv")
    assert(v3 == 0L && n3 == 0L,
      "a committed-but-unwatermarked refresh must roll FORWARD, " +
        s"never re-apply; got versions=$v3 rows=$n3")
    assert(spark.table("p16p.mv").exceptAll(recompute()).isEmpty,
      "double-applying the delta would double the retractions")
    spark.sql("DROP MATERIALIZED VIEW p16p.mv")
    spark.sql("DROP TABLE IF EXISTS p16p.b"): Unit
  }

  test("mv refresh wait: an observation never fulfilled takes the fallback, no thread left waiting") {
    import graft.sources.GraftMv
    import scala.jdk.CollectionConverters._
    def waitingInGet(): Int = Thread.getAllStackTraces.asScala.values
      .count(_.exists(f => f.getClassName == "org.apache.spark.sql.Observation" &&
        f.getMethodName == "get"))
    val before = waitingInGet()
    val never = new org.apache.spark.sql.Observation("p16_never")
    var recounts = 0
    assert(GraftMv.observedOr(never, 50.millis) { recounts += 1; 42L } == 42L)
    assert(recounts == 1)
    Thread.sleep(100)
    assert(waitingInGet() == before,
      "a timed-out wait must not leave a thread parked in Observation.get")
    // a fulfilled observation returns its metric without the fallback
    val seen = new org.apache.spark.sql.Observation("p16_seen")
    spark.range(7).observe(seen, count(lit(1)).as("n")).collect()
    assert(GraftMv.observedOr(seen, 10.seconds)(fail("fallback ran")) == 7L)
  }

  test("snapshot-then-tail: offsets resume exactly, mid-snapshot and at the boundary; DV rows excluded") {
    import graft.sources.{GraftCdf, GraftSnapshotFeedStream, SnapOffset}
    val base = freshCatalog("p16q")
    spark.sql("DROP TABLE IF EXISTS p16q.t")
    spark.range(0, 80).selectExpr("id AS k", "id * 2 AS v")
      .repartition(4).createOrReplaceTempView("seed16q")
    spark.sql("CREATE TABLE p16q.t TBLPROPERTIES " +
      "('graft.cdf.enabled'='true','graft.dv.enabled'='true') AS " +
      "SELECT * FROM seed16q")
    // a DV delete BEFORE the stream: snapshot rows must exclude it
    spark.sql("DELETE FROM p16q.t WHERE k < 4")
    val dir = new File(base, "t")
    val schema = GraftCdf.feedSchema(
      graft.sources.GraftCatalog.pinned(dir).get)
    def rowsOf(s: GraftSnapshotFeedStream,
        a: SnapOffset, b: SnapOffset): Long = {
      val factory = s.createReaderFactory()
      s.planInputPartitions(a, b).map { p =>
        val r = factory.createReader(p)
        var n = 0L
        while (r.next()) { r.get(): Unit; n += 1 }
        r.close(); n
      }.sum
    }
    val s1 = new GraftSnapshotFeedStream(dir, schema, 1, 1)
    val o0 = s1.initialOffset().asInstanceOf[SnapOffset]
    assert(!o0.tail && o0.idx == 0)
    val o1 = s1.latestOffset(o0, null).asInstanceOf[SnapOffset]
    val n1 = rowsOf(s1, o0, o1)
    // RESTART mid-snapshot: a fresh stream resumes from the offset's
    // json — the pinned snapshot's sorted file list is the stable
    // enumeration
    val s2 = new GraftSnapshotFeedStream(dir, schema, 8, 1)
    var cur = s2.deserializeOffset(o1.json()).asInstanceOf[SnapOffset]
    var total = n1
    var guard = 0
    while (!cur.tail && guard < 20) {
      val next = s2.latestOffset(cur, null).asInstanceOf[SnapOffset]
      total += rowsOf(s2, cur, next)
      cur = next; guard += 1
    }
    assert(total == 76,
      s"the backfill must emit each surviving row exactly once " +
        s"(DV rows excluded); got $total")
    // BOUNDARY restart: new commits land, a fresh stream resumes from
    // the tail offset and emits exactly the new change images
    spark.sql("DELETE FROM p16q.t WHERE k >= 76") // 4 delete images
    spark.sql("INSERT INTO p16q.t VALUES (500, 0)") // 1 insert image
    val s3 = new GraftSnapshotFeedStream(dir, schema, 8, 10)
    val t0 = s3.deserializeOffset(cur.json()).asInstanceOf[SnapOffset]
    val t1 = s3.latestOffset(t0, null).asInstanceOf[SnapOffset]
    assert(rowsOf(s3, t0, t1) == 5,
      "the tail must carry exactly the post-boundary change images")
    // and nothing more
    val t2 = s3.latestOffset(t1, null).asInstanceOf[SnapOffset]
    assert(t2 == t1 && rowsOf(s3, t1, t2) == 0)
    spark.sql("DROP TABLE IF EXISTS p16q.t"): Unit
  }

  test("bloom tier: point lookups on a declared high-cardinality column keep O(1 file)") {
    val base = freshCatalog("p16r")
    spark.sql("DROP TABLE IF EXISTS p16r.t")
    // uuid-ish keys HASH-distributed across 8 files: every file spans
    // the whole min/max domain, so the range tier alone keeps all 8
    // (explicit repartition — AQE never coalesces a fixed count)
    spark.range(0, 4000)
      .selectExpr("md5(CAST(id AS STRING)) AS uid", "id AS v")
      .repartition(8, col("uid"))
      .createOrReplaceTempView("seed16r")
    spark.sql("CREATE TABLE p16r.t TBLPROPERTIES " +
      "('graft.stats.bloom.columns'='uid') AS SELECT * FROM seed16r")
    val dir = new File(base, "t")
    val files = GraftTxn.dataFiles(dir)
    assert(files.size >= 4, s"need a multi-file table, got ${files.size}")
    val ledger = GraftStats.load(dir)
    assert(files.forall(f => ledger.get(f)
      .exists(_.get("uid").exists(_.bloom.nonEmpty))),
      "every file must carry a uid bloom")
    val planted = spark.sql(
      "SELECT md5(CAST(1234 AS STRING))").head().getString(0)
    val cands = GraftStats.candidateFiles(dir, files,
      Seq(org.apache.spark.sql.sources.EqualTo("uid", planted)),
      spark.table("p16r.t").schema)
    assert(cands.nonEmpty && cands.size <= 2,
      s"bloom must pin the point lookup to ~1 file; kept ${cands.size} " +
        s"of ${files.size}")
    // a value that exists nowhere: every file refutable (tiny FP slack)
    val absent = GraftStats.candidateFiles(dir, files,
      Seq(org.apache.spark.sql.sources.EqualTo("uid", "not-a-hash")),
      spark.table("p16r.t").schema)
    assert(absent.size <= 1, s"absent key kept ${absent.size}")
    // the scan itself prunes and still answers correctly
    val r = spark.table("p16r.t")
      .filter(col("uid") === planted).collect()
    assert(r.length == 1 && r(0).getLong(1) == 1234L)
    val (listed, kept) = GraftStats.lastReport(dir.getAbsolutePath)
    assert(listed == files.size && kept <= 2,
      s"the skipping scan must use the bloom: $listed/$kept")
    // range tier alone would NOT have pruned (domain-spanning files):
    // a range predicate keeps everything
    val ranged = GraftStats.candidateFiles(dir, files,
      Seq(org.apache.spark.sql.sources.GreaterThan("uid", "0")),
      spark.table("p16r.t").schema)
    assert(ranged.size == files.size)
    spark.sql("DROP TABLE IF EXISTS p16r.t"): Unit
  }

  test("DV update CDF delete images are the exact pre-update rows") {
    val base = freshCatalog("p16i")
    val dir = mkDvTable("p16i", base, cdf = true)
    val preImage = spark.table("p16i.t").filter(col("k") < 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sql("UPDATE p16i.t SET v = v + 5 WHERE k < 15")
    val changes = GraftCdf.rows(spark, dir)
      .filter(col("_commit_version") === 2L)
    val dels = changes.filter(col("_change_type") === "delete")
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ins = changes.filter(col("_change_type") === "insert")
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dels == preImage, "delete images must be the old rows")
    assert(ins == preImage.map { case (k, v) => (k, v + 5) },
      "insert images must be the new rows")
    spark.sql("DROP TABLE IF EXISTS p16i.t"): Unit
  }
}
