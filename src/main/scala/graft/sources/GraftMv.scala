package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, sum, when}

/** MATERIALIZED VIEWS with INCREMENTAL CDF REFRESH (round 16, VERDICT
  * r15 ask #4 — the `.graftview` sibling for AGGREGATES, maintained by
  * the x54/x113 retraction algebra instead of recomputation).
  *
  * `CREATE MATERIALIZED VIEW cat.mv AS SELECT g…, count(*) AS n,
  * sum(expr) AS s… FROM cat.base [WHERE p] GROUP BY g…` (parser-level
  * like BEGIN — Spark has no MV grammar) validates the shape
  * (single CDF-enabled graft base table, group-by, count/sum
  * aggregates — at least one `count(*)`, the retraction algebra's
  * group-liveness counter), materializes the FULL aggregate once as a
  * REAL graft table `<mv>`, and persists the definition + the base
  * version it reflects as a sibling `<mv>.graftmv` JSON.
  *
  * `CALL cat.refresh_mv('mv')` reads ONLY the base's CDF row images
  * for versions `(lastVersion, current]` (O(changed rows) — the base
  * table itself is never rescanned), turns them into SIGNED deltas
  * (insert = +1, delete = −1; an update is its delete+insert pair),
  * aggregates them under the MV's own grouping/filter, and
  * full-outer-merges into the current MV state: counts add, sums add
  * via `m * expr`, groups whose count reaches zero DROP (x113's
  * retraction rule). The merged state commits as one overwrite of the
  * MV table.
  *
  * CRASH-ATOMICITY: the def file gains an INTENT (`pendingTo` + the
  * MV table's pre-commit version) BEFORE the overwrite commits; a
  * crash between the commit and the def update is resolved on the
  * next refresh by comparing the MV's actual version against the
  * intent — committed → roll the watermark FORWARD (the delta is
  * never re-applied, the double-count hazard), not committed →
  * discard the intent and redo. Exactly once either way (spec).
  *
  * At 100 TB: refresh cost ∝ changed rows since the watermark —
  * the nightly-MV contract; the MV table reads like any graft table
  * (skipping/DV/time travel all apply). */
private[graft] object GraftMv {

  final case class AggSpec(alias: String, fn: String, argSql: String)

  final case class MvDef(baseCat: String, baseTable: String,
      groupCols: Seq[String], aggs: Seq[AggSpec],
      filterSql: Option[String], sql: String, lastVersion: Long,
      pendingTo: Option[Long] = None, mvVersionBefore: Option[Long] = None)

  private def enc(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def dec(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), UTF_8)

  def defFile(base: File, name: String): File =
    new File(base, s"$name.graftmv")

  /** Line-per-field persistence (base64 payloads — no JSON parser in
    * scope, and the SQL text must roundtrip raw). */
  def store(f: File, d: MvDef): Unit = {
    val lines = Seq(
      s"baseCat\t${d.baseCat}",
      s"baseTable\t${d.baseTable}",
      s"groupCols\t${d.groupCols.map(enc).mkString(",")}",
      s"aggs\t${d.aggs.map(a =>
        s"${enc(a.alias)}:${a.fn}:${enc(a.argSql)}").mkString(",")}",
      s"filter\t${d.filterSql.map(enc).getOrElse("")}",
      s"sql\t${enc(d.sql)}",
      s"lastVersion\t${d.lastVersion}",
      s"pendingTo\t${d.pendingTo.map(_.toString).getOrElse("")}",
      s"mvVersionBefore\t${d.mvVersionBefore.map(_.toString).getOrElse("")}")
    val tmp = new File(f.getParentFile, f.getName + s".tmp${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath,
      lines.mkString("\n").getBytes(UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def load(f: File): MvDef = {
    val m = new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      .split("\n").map(_.split("\t", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    MvDef(
      m("baseCat"), m("baseTable"),
      m.getOrElse("groupCols", "").split(",").filter(_.nonEmpty)
        .map(dec).toSeq,
      m.getOrElse("aggs", "").split(",").filter(_.nonEmpty).toSeq.map { s =>
        val p = s.split(":", 3)
        AggSpec(dec(p(0)), p(1), dec(p(2)))
      },
      m.get("filter").filter(_.nonEmpty).map(dec),
      dec(m("sql")),
      m("lastVersion").toLong,
      m.get("pendingTo").filter(_.nonEmpty).map(_.toLong),
      m.get("mvVersionBefore").filter(_.nonEmpty).map(_.toLong))
  }

  /** Validate + destructure the parsed MV body:
    * Aggregate(groups, [group attrs ++ count/sum aliases],
    * [Filter(p,)] UnresolvedRelation(cat.base)). */
  def destructure(session: SparkSession, query: LogicalPlan)
      : (Seq[String], Seq[String], Seq[AggSpec], Option[String]) = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW supports " +
        "'SELECT groups…, count(*)/sum(expr) aliases FROM cat.base " +
        s"[WHERE p] GROUP BY groups…' — $msg")
    query match {
      case Aggregate(groups, aggExprs, child, _) =>
        val (rel, filterSql) = child match {
          case Filter(cond, u: UnresolvedRelation) =>
            (u, Some(cond.sql))
          case u: UnresolvedRelation => (u, None)
          case other => fail(s"unsupported FROM shape $other")
        }
        if (rel.multipartIdentifier.length != 2)
          fail("the base must be a 2-part graft table name")
        val groupNames = groups.map {
          case a: UnresolvedAttribute => a.name
          case other => fail(s"grouping must be plain columns; got $other")
        }
        val aggs = aggExprs.flatMap {
          case a: UnresolvedAttribute =>
            if (!groupNames.exists(_.equalsIgnoreCase(a.name)))
              fail(s"non-aggregate column ${a.name}")
            None
          case al @ Alias(f: UnresolvedFunction, name) =>
            f.nameParts.map(_.toLowerCase) match {
              case Seq("count") =>
                val ok = f.arguments.isEmpty ||
                  (f.arguments.length == 1 && (f.arguments.head
                    .isInstanceOf[UnresolvedStar] ||
                    f.arguments.head.isInstanceOf[Literal]))
                if (!ok) fail("count must be count(*) or count(1)")
                Some(AggSpec(name, "count", "1"))
              case Seq("sum") if f.arguments.length == 1 =>
                Some(AggSpec(name, "sum", f.arguments.head.sql))
              case other => fail(
                s"only count(*)/count(1) and sum(expr); got $other")
            }
          case other => fail(s"every aggregate needs an alias; got $other")
        }
        if (!aggs.exists(_.fn == "count"))
          fail("at least one count(*) alias is required (the " +
            "retraction algebra's group-liveness counter)")
        (rel.multipartIdentifier, groupNames, aggs, filterSql)
      case other => fail(s"not a grouped aggregate: ${other.nodeName}")
    }
  }

  // ------------------------------------------------------- refresh

  /** Incremental refresh; returns (versions applied, delta rows
    * scanned). No-op (0, 0) when the MV is current. */
  def refresh(session: SparkSession, catBase: File, name: String): (Long, Long) = {
    val df = defFile(catBase, name)
    require(df.isFile, s"no materialized view '$name'")
    var d = load(df)
    val mvDir = new File(catBase, name)
    val baseDir = new File(session.conf.get(
      s"spark.sql.catalog.${d.baseCat}.base"), d.baseTable)
    // resolve a crashed refresh: committed → watermark forward;
    // not committed → discard the intent
    (d.pendingTo, d.mvVersionBefore) match {
      case (Some(to), Some(before)) =>
        val committed = GraftTxn.version(mvDir) > before
        d = d.copy(lastVersion = if (committed) to else d.lastVersion,
          pendingTo = None, mvVersionBefore = None)
        store(df, d)
      case _ => ()
    }
    val cur = GraftTxn.version(baseDir)
    if (cur <= d.lastVersion) return (0L, 0L)
    // the delta: CDF row images of (lastVersion, cur] — O(changed)
    val changes = GraftCdf.rows(session, baseDir)
      .filter(col("_commit_version") > d.lastVersion &&
        col("_commit_version") <= cur)
    val filtered = d.filterSql.fold(changes)(p => changes.filter(expr(p)))
    // round 16 optimization: the delta-row count rides the merge job
    // as an observed metric instead of its own count() job — one fewer
    // full pass over the change feed per refresh; the value is the
    // same row count the separate job returned.
    val obs = new org.apache.spark.sql.Observation(
      s"graft_mv_delta_${System.nanoTime()}")
    val signed = filtered.withColumn("__m",
      when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .observe(obs, count(lit(1)).as("n"))
    val gcols = d.groupCols.map(col)
    val delta = signed.groupBy(gcols: _*)
      .agg(sum(col("__m")).as("__d0"),
        d.aggs.zipWithIndex.collect {
          case (a, i) if a.fn == "sum" =>
            sum(col("__m") * expr(a.argSql)).as(s"__d$i")
        }.toSeq: _*)
    val countAlias = d.aggs.find(_.fn == "count").get.alias
    val mv = session.read.parquet(mvDir.getAbsolutePath)
    val merged = mv.join(delta, d.groupCols, "full_outer")
      .select((gcols ++ d.aggs.zipWithIndex.map { case (a, i) =>
        val dcol = if (a.fn == "count") col("__d0")
          else col(s"__d$i")
        val t = mv.schema(a.alias).dataType
        // decimal addition widens precision by one — cast back to the
        // MV's pinned column type so every refresh writes the same
        // physical layout the MV was created with
        (coalesce(col(a.alias), lit(0).cast(t)) +
          coalesce(dcol.cast(t), lit(0).cast(t))).cast(t).as(a.alias)
      }): _*)
      .filter(col(countAlias) > 0)
    val mergedDone = GraftTxn.describedNoAqe(session, "mv incremental merge") {
      merged.localCheckpoint(true) // materialize BEFORE overwriting input
    }
    // ADVICE r16: BOUNDED wait for the observed metric — it arrives
    // with the localCheckpoint action above on the pinned Spark, but a
    // future change to the checkpoint action path must degrade to a
    // recount of the delta, never a hang
    val nDelta = {
      import scala.concurrent.duration.DurationInt
      observedOr(obs, 10.seconds)(signed.count())
    }
    // intent BEFORE the commit (class doc)
    store(df, d.copy(pendingTo = Some(cur),
      mvVersionBefore = Some(GraftTxn.version(mvDir))))
    GraftTxn.describedNoAqe(session, "mv refresh commit") {
      overwriteMv(session, mvDir, mergedDone)
    }
    store(df, d.copy(lastVersion = cur))
    (cur - d.lastVersion, nDelta)
  }

  /** The observed metric `n` of `obs`, or `fallback` when it has not
    * arrived within `wait`. Awaits the observation's own future, so a
    * timeout leaves no thread blocked behind it. */
  private[graft] def observedOr(obs: org.apache.spark.sql.Observation,
      wait: scala.concurrent.duration.FiniteDuration)(fallback: => Long): Long =
    try scala.concurrent.Await.result(obs.future, wait).getAs[Long]("n")
    catch { case _: java.util.concurrent.TimeoutException => fallback }

  /** Overwrite the MV table as one ordinary graft commit (snapshot,
    * promote-first, version bump) under its lock. */
  private[sources] def overwriteMv(session: SparkSession, mvDir: File,
      data: DataFrame): Unit = {
    val stage = GraftTxn.newStageDir(mvDir, "mvrefresh")
    GraftCatalog.withPinFieldIds(data, mvDir)
      .write.mode("append")
      .option(GraftParquetTable.FieldIdWriteConf, "true")
      .parquet(stage.getAbsolutePath)
    GraftTxn.commitHook()
    GraftTxn.withCommitLock(mvDir) {
      val old = GraftTxn.dataFiles(mvDir)
      GraftTxn.snapshotCurrent(mvDir)
      GraftTxn.promoteStage(stage, mvDir)
      old.foreach(n => new File(mvDir, n).delete())
      GraftTxn.bumpVersion(mvDir)
      GraftTxn.pruneSnapshots(mvDir, GraftTxn.retention)
    }
    GraftTxn.rmTree(stage)
  }
}

private[graft] object GraftMvSql {
  private val CreateRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s+AS\s+(.+?);?\s*$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*$""".r

  private def parts(name: String): Seq[String] =
    name.split("\\.").toSeq.map(_.stripPrefix("`").stripSuffix("`"))

  /** Spark has no MATERIALIZED VIEW grammar — intercept the text
    * before the delegate (the BEGIN/COMMIT pattern). */
  def statement(session: SparkSession, sqlText: String,
      delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
      : Option[LogicalPlan] = sqlText match {
    case CreateRe(name, query) =>
      Some(GraftCreateMvCommand(parts(name), query.trim,
        delegate.parsePlan(query)))
    case DropRe(ifex, name) =>
      Some(GraftDropMvCommand(parts(name), ifex != null))
    case _ => None
  }
}

/** `CREATE MATERIALIZED VIEW cat.mv AS <aggregate query>`: validate,
  * materialize fully ONCE as a real graft table, persist the def. */
private[graft] case class GraftCreateMvCommand(parts: Seq[String],
    querySql: String, query: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(parts.length == 2,
      s"materialized view needs a 2-part name; got ${parts.mkString(".")}")
    val (baseParts, groupCols, aggs, filterSql) =
      GraftMv.destructure(session, query)
    val catBase = new File(session.conf.get(
      s"spark.sql.catalog.${parts.head}.base"))
    val baseDir = new File(session.conf.get(
      s"spark.sql.catalog.${baseParts.head}.base"), baseParts.last)
    require(baseDir.isDirectory,
      s"no graft base table ${baseParts.mkString(".")}")
    require(GraftCdf.enabled(baseDir),
      s"materialized views need graft.cdf.enabled=true on the base " +
        s"table ${baseParts.mkString(".")} (refresh reads the change feed)")
    val f = GraftMv.defFile(catBase, parts.last)
    require(!f.isFile, s"materialized view ${parts.last} already exists")
    // full materialization, pinned to the base version read
    val v0 = GraftTxn.version(baseDir)
    session.sql(s"CREATE TABLE ${parts.head}.${parts.last} AS $querySql")
    GraftMv.store(f, GraftMv.MvDef(baseParts.head, baseParts.last,
      groupCols, aggs, filterSql, querySql, v0))
    Seq.empty
  }
}

private[graft] case class GraftDropMvCommand(parts: Seq[String],
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val catBase = new File(session.conf.get(
      s"spark.sql.catalog.${parts.head}.base"))
    val f = GraftMv.defFile(catBase, parts.last)
    if (!f.isFile) {
      if (!ifExists) throw new IllegalArgumentException(
        s"no materialized view ${parts.mkString(".")}")
      return Seq.empty
    }
    f.delete()
    session.sql(s"DROP TABLE IF EXISTS ${parts.head}.${parts.last}")
    Seq.empty
  }
}
