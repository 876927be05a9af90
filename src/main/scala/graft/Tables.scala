package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md,
  * FIXTURES.md): one parquet file per table at `$sfDir/<name>.parquet`,
  * or a flat directory of part files under that name.
  *
  * Scale posture: loaders return plain scans so Catalyst keeps column
  * pruning and predicate pushdown all the way to the parquet reader;
  * nothing here collects or repartitions. Each loader reads the table's
  * parquet footer on the driver (milliseconds) and hands that schema to
  * `read.schema(...)`. Without it, Spark infers the schema with a
  * one-task job per read, even for a single file; with it, building a
  * corpus DataFrame launches no job. The schema is read again on every
  * call, not cached, so nothing can go stale and every call still gets
  * a fresh relation with fresh attribute ids (self-joins stay safe).
  *
  * Reference note: the StellarSQL checkout at /root/reference was empty at
  * survey time (SURVEY.md §0); its table abstraction (named tables of
  * typed rows) maps to the Spark catalog + DataFrame per SURVEY §1.1.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Runtime confs every contract query needs. The driver's Verify/Bench
    * sessions do NOT set these (SURVEY §1.3), and they are runtime SQLConfs,
    * so each query path calls tune() first. Idempotent and cheap. It sets
    * only fixed values that no section changes, so a loader called inside
    * a [[SessionConf.scoped]] section (AQE off, a narrower width) leaves
    * that section's confs as they are. */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    // events.parquet carries INT64 TIMESTAMP(NANOS,false), which the default
    // Spark 4 reader rejects (PARQUET_TYPE_ILLEGAL). Read it as epoch-nano
    // LongType instead; queries treat `ts` as a BIGINT and never emit a raw
    // nanosecond timestamp (oracle compares epoch_ns(ts)).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Write timestamps as INT64 micros (round 16): Spark's INT96
    // default is deprecated, carries NO usable parquet min/max stats
    // (so the skipping ledger cannot range-prune timestamp columns),
    // and declines filter pushdown. INT64 micros is lossless for
    // Spark's microsecond timestamps and is what every modern engine
    // writes. ParquetUtils.prepareWrite reads this from the SESSION
    // conf (a per-relation option is overwritten there), so it lives
    // in the engine's session tuning.
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // TypedImperativeAggregates (MinHashAgg) run in ObjectHashAggregateExec,
    // which falls back to sort-based aggregation after 128 distinct groups
    // per task by default — far too conservative for a 1 KiB signature
    // buffer (1M groups ≈ 1 GiB across a whole executor, and real corpora
    // shard groups across many partitions anyway).
    c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val s = tune(spark)
    val path = s"$sfDir/$name.parquet"
    footerSchema(s, sfDir, name) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      // missing or empty: let Spark report the path as it always has
      case None => s.read.parquet(path)
    }
  }

  /** Data files of corpus table `name`: `$sfDir/<name>.parquet` itself,
    * or, when that is a flat directory of part files, its regular files
    * in name order, skipping names that start with `_` or `.` as Spark's
    * listing does. Throws an IOException when the path is missing. */
  def dataFiles(sfDir: String, name: String): Seq[java.nio.file.Path] = {
    import java.nio.file.{Files, NoSuchFileException, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(s"$sfDir/$name.parquet")
    if (Files.isRegularFile(p)) Seq(p)
    else if (!Files.isDirectory(p)) throw new NoSuchFileException(p.toString)
    else {
      val listing = Files.list(p)
      try listing.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    }
  }

  /** Total bytes of the given corpus tables' data files, or 0 when any
    * of them cannot be listed — the size-proportional width heuristics
    * then fall to their minimum instead of failing the query. */
  def corpusBytes(sfDir: String, tables: String*): Long =
    try tables.flatMap(dataFiles(sfDir, _))
      .map(java.nio.file.Files.size).sum
    catch { case _: java.io.IOException => 0L }

  /** Spark schema of corpus table `name`, read on the driver from the
    * footer of its first data file with Spark's own converter and the
    * session's current confs (so [[tune]]'s nanosAsLong applies) — the
    * schema `spark.read.parquet` would infer, without its job. None when
    * the table has no listable data file. */
  private def footerSchema(spark: SparkSession, sfDir: String,
      name: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val first =
      try dataFiles(sfDir, name).headOption
      catch { case _: java.io.IOException => None }
    first.map { f =>
      val path = new Path(f.toUri)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        new ParquetToSparkSchemaConverter(conf))
    }
  }

  /** Root of this PROCESS's scratch space: tmpdir/graft_scratch_<pid@host>.
    * Namespacing scratch per process (VERDICT r6 #2) makes two concurrent
    * Verify/Bench runs against the same sfDir unable to race each other's
    * staging (s5b's ORC round-trip, sql16's warehouse, the stream splits
    * and x54's base aggregate) — within one process, the fingerprint-named
    * [[scratchHome]]s still de-duplicate staging work across queries. A
    * shutdown hook removes the whole root so repeated runs don't
    * accumulate staged copies in tmp. */
  private lazy val scratchRoot: java.io.File = {
    val token = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName.replaceAll("[^A-Za-z0-9]", "_")
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scratch_$token")
    root.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root)))
    root
  }

  /** Delete `f` and everything under it; a missing `f` is a no-op. */
  def rm(f: java.io.File): Unit = {
    // listFiles returns null (not empty) on a plain file or an I/O error
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }

  /** Deterministic per-(process, purpose, corpus) scratch directory under
    * the JVM tmpdir — the single spelling for every sink round-trip
    * operator. */
  def scratchDir(tag: String, sfDir: String): String =
    new java.io.File(scratchRoot,
      s"graft_${tag}_${(sfDir.hashCode & 0x7fffffff).toHexString}")
      .getAbsolutePath

  /** Register (idempotently) and return a PER-(purpose, corpus) graft
    * catalog name. Spark caches catalog INSTANCES by name at first
    * use and never re-reads their options, so one fixed name pointed
    * at two base dirs in one session (exactly what the scale
    * rehearsal does — every row runs at sfDir AND the amplified
    * corpus) silently keeps the FIRST base and the second corpus's
    * statements land in the wrong directory. Salting the name by
    * corpus gives each base its own cached instance. */
  def graftCatalog(spark: SparkSession, tag: String, sfDir: String): String = {
    val name = s"graft_${tag}_${(sfDir.hashCode & 0x7fffffff).toHexString}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base",
      scratchDir(s"${tag}_cat", sfDir))
    name
  }

  /** Root of the CROSS-PROCESS shared artifact space (tmpdir/
    * graft_shared) — build-once/serve-many artifacts (trained PQ models,
    * staged graph adjacency) that a LATER SESSION reuses instead of
    * rebuilding. Deliberately NOT removed at shutdown (unlike
    * [[scratchRoot]]): persistence across processes is the point. On a
    * cluster this is a warehouse path; locally it's tmp. */
  private lazy val sharedRoot: java.io.File = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_shared")
    root.mkdirs()
    root
  }

  /** Staleness fingerprint of one corpus table (the x54 rule): the
    * name, size and mtime of each of its [[dataFiles]]. Regenerated
    * test data — or one rewritten part file of a directory table, which
    * leaves the directory entry as it was — changes the fingerprint, so
    * a shared artifact built from the old corpus can never serve the
    * new one. */
  def corpusFingerprint(sfDir: String, tableName: String): String = {
    import java.nio.file.Files
    dataFiles(sfDir, tableName).map { f =>
      s"${f.getFileName}:${Files.size(f)}:" +
        s"${Files.getLastModifiedTime(f).toMillis}"
    }.mkString(",")
  }

  /** Final home of a staged artifact under `root`. The FINGERPRINT IS
    * THE NAME: a directory exists at this path iff a complete build for
    * exactly this (corpus, config) was atomically published
    * ([[publishShared]]) — existence is validity, so there is no marker
    * file to race and a crashed build can never be half-visible (ADVICE
    * r8 on the PQ model's marker-after-multi-write window). */
  private[graft] def sharedDir(tag: String, sfDir: String, fingerprint: String,
      root: java.io.File = sharedRoot): java.io.File = {
    val keyed = StagedVersion + "|" + fingerprint
    new java.io.File(root,
      s"graft_${tag}_${(sfDir.hashCode & 0x7fffffff).toHexString}_" +
        s"${(keyed.hashCode & 0x7fffffff).toHexString}")
  }

  /** A CALL-unique sibling build directory for [[publishShared]]:
    * process token (two JVMs never collide) + thread + nanos (two
    * builders inside one process never share a temp either —
    * round-12 hardening; the per-session Memo usually dedupes
    * in-process builds, but the temp dir must not rely on it). */
  private def sharedBuildDir(target: java.io.File): java.io.File = {
    val token = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName.replaceAll("[^A-Za-z0-9]", "_")
    new java.io.File(target.getParentFile,
      s"${target.getName}.build_${token}_" +
        s"${Thread.currentThread().getId}_${System.nanoTime()}")
  }

  /** Publish a fully-built temp directory into its shared home with ONE
    * atomic rename. Two processes building concurrently both succeed:
    * the loser's rename fails on the existing target and its temp build
    * is discarded — either way the target holds one process's COMPLETE
    * build. Returns true if this process's build won. */
  private[graft] def publishShared(temp: java.io.File,
      target: java.io.File): Boolean = {
    import java.nio.file.{Files, StandardCopyOption}
    try {
      Files.move(temp.toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      BuildLog.note(target.getName) // r17: bench attribution, see BuildLog
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: java.nio.file.FileSystemException if target.isDirectory =>
        rm(temp)
        false
    }
  }

  /** Emergency manual salt for [[StagedVersion]] — bump only if a
    * staged artifact must be invalidated without any builder-class
    * change (e.g. an external format assumption changed). */
  private val StagedSalt = "s1"

  /** Modules whose code builds staged artifacts. [[StagedVersion]] is
    * derived from THEIR CLASSFILE BYTES, so any builder change
    * re-keys every artifact automatically — the hand-maintained
    * round constant this replaces was one forgotten bump away from
    * silently serving stale cross-process artifacts (ADVICE r11; the
    * x111 stale-tmp incident was exactly this class).
    * StagedVersionSpec asserts the list covers every source file that
    * calls the staging API. */
  private[graft] val StagedBuilderClasses: Seq[String] = Seq(
    "graft.ScaleRehearsal",
    "graft.Tables",
    "graft.operators.BasketOps",
    "graft.operators.CurationOps",
    "graft.operators.Dedup",
    "graft.operators.EmbedOps",
    "graft.operators.GraphOps",
    "graft.operators.SimSearch",
    "graft.operators.StorageOps",
    "graft.operators.TextIndexOps",
    "graft.operators.WarehouseOps",
    "graft.streaming.Streams")

  /** Code-version token folded into every staged-artifact fingerprint
    * (ADVICE r10/r11): cross-process artifacts outlive the JVM, so
    * builder-code changes must re-key them. Content-derived — an MD5
    * over the builder modules' classfiles (object + companion class;
    * lambdas compile into the enclosing object's file, so builder
    * closures are covered). Over-invalidation (an unrelated edit in a
    * builder module) costs one rebuild — the safe direction. */
  lazy val StagedVersion: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(StagedSalt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    StagedBuilderClasses.sorted.foreach { c =>
      Seq("", "$").foreach { suffix =>
        val res = "/" + c.replace('.', '/') + suffix + ".class"
        val in = getClass.getResourceAsStream(res)
        if (in != null) {
          try md.update(in.readAllBytes()) finally in.close()
        }
      }
    }
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(md.digest()).take(12)
  }

  /** Home directory of a cross-process staged artifact keyed by (tag,
    * code version — via [[sharedDir]], the fingerprint of each source
    * table, config) — the round-10 generalization of the PQ/CC pattern
    * so each new staged family is three lines, not thirty. */
  def stagedHome(tag: String, sfDir: String, srcTables: Seq[String],
      cfg: String): java.io.File =
    sharedDir(tag, sfDir, sourceKey(sfDir, srcTables, cfg))

  /** [[stagedHome]] under this process's scratch root: keyed the same
    * way, but removed at exit and never served to another process — for
    * artifacts whose content depends on when they were staged (the
    * stream splits' file mtimes). */
  def scratchHome(tag: String, sfDir: String, srcTables: Seq[String],
      cfg: String): java.io.File =
    sharedDir(tag, sfDir, sourceKey(sfDir, srcTables, cfg), scratchRoot)

  private def sourceKey(sfDir: String, srcTables: Seq[String],
      cfg: String): String =
    (srcTables.map(corpusFingerprint(sfDir, _)) :+ cfg).mkString("|")

  /** Build-if-absent for a staged home — the one build-once path for
    * every artifact that outlives a query: `build` fills a
    * process-unique temp dir (flat parquet or named files), then ONE
    * atomic rename publishes and notes the build in [[BuildLog]].
    * Concurrent builders race safely ([[publishShared]]); a FAILED
    * build deletes its temp dir before rethrowing so tmp never
    * accumulates half-built orphans (ADVICE r10). */
  def ensureStaged(home: java.io.File)(build: java.io.File => Unit): Unit =
    if (!home.isDirectory) {
      val tmp = sharedBuildDir(home)
      tmp.mkdirs()
      try build(tmp)
      catch { case e: Throwable => rm(tmp); throw e }
      publishShared(tmp, home): Unit
    }

  /** Memoized + cross-process-staged single frame: first process per
    * corpus/config builds and publishes, every later process (and every
    * later call in this one) reads the parquet — the build-once/
    * serve-many tier (VERDICT r9 #2 applied to the text-index family). */
  def stagedFrame(spark: SparkSession, tag: String, sfDir: String,
      srcTables: Seq[String], cfg: String)(build: => DataFrame): DataFrame =
    graft.Memo(spark, s"staged_$tag:$sfDir") {
      val s = tune(spark)
      val home = stagedHome(tag, sfDir, srcTables, cfg)
      ensureStaged(home) { tmp =>
        build.write.mode("overwrite").parquet(tmp.getAbsolutePath)
      }
      s.read.parquet(home.getAbsolutePath)
    }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** events with `ts` as epoch-nanos BIGINT — the contract every event
    * query codes against. The driver corpus has shipped two physical
    * spellings of `ts`: INT64 TIMESTAMP(NANOS) (read as LongType via
    * nanosAsLong, already epoch-ns) and µs TIMESTAMP (current corpus).
    * Normalize HERE, once, by schema inspection: downstream operators
    * and the `ts div 1000` µs policy ([[eventsUs]]) stay unchanged, and
    * the DuckDB oracle's epoch_ns(ts)/epoch_us(ts) reads the same
    * instants from either spelling. Session TZ is pinned UTC (tune()),
    * so the NTZ→instant cast is timezone-free. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.LongType
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn(
        "ts", expr("unix_micros(cast(ts AS TIMESTAMP)) * 1000L"))
    }
  }

  /** events with `ts` truncated to epoch-MICROS (BIGINT, integer division —
    * no double round-trip). DuckDB 1.0 reads the same parquet as a
    * microsecond TIMESTAMP (it truncates the nano component), so every
    * cross-checked event query computes on this µs view; `epoch_us(ts)`
    * is the oracle-side equivalent. */
  def eventsUs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    events(s, d).withColumn("ts", expr("ts div 1000"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
