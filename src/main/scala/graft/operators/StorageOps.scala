package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Det, Tables}

/** STORAGE / SOURCE-SINK theme module (round 11 — the ExtrasN
  * naming-debt retirement, VERDICT r10 #7): the file-format, layout,
  * and table-maintenance rows, moved verbatim from
  * Extras2/3/4/5/8/9/10/11. Everything here is about HOW bytes land on
  * and come off disk — format round-trips, partition/bucket layout,
  * pruning evidence, compaction, caching — with values pinned by the
  * same DuckDB oracle as every compute row.
  *
  * Rows: s7b catalog tables, s8 partition pruning, s9 sorted writes,
  * s14 dynamic partition overwrite, s16 XML, s17 Avro, s18 small-file
  * compaction, s19 nested round-trip, s21 snapshot versions, s22
  * dynamic partition pruning, s23 malformed CSV, s24 file lineage,
  * s25 corrupt files, s26 cached tables, s27 nested-field pruning,
  * s28 codec matrix.
  */
object StorageOps {

  import Det.{sql => d}

  /** S8 — partitioned sink + partition pruning: orders written
    * year-partitioned, read back with a year predicate; the reread scan
    * lists only the matching partition directories (asserted in
    * Extras2Spec) — the file-layout analog of 100 TB data skipping. */
  def s8PartitionPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    // fixed per-(process, sfDir) directory + overwrite: repeated runs
    // rewrite in place instead of leaking a full copy of orders per
    // invocation, and concurrent processes never share the path
    val dir = Tables.scratchDir("s8", sfDir)
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_year") === 1997)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_year").cast("long"))
      .orderBy(col("o_orderkey"))
  }

  /** S14 — dynamic partition overwrite (partitioned-sink maintenance):
    * the full table is laid out partitioned by priority, then ONE
    * partition is re-stated with corrected prices under
    * `partitionOverwriteMode=DYNAMIC` — only partitions present in the
    * incremental frame are replaced, the other four stay untouched.
    * This is the daily-restatement primitive of a partitioned 100 TB
    * warehouse (re-run one day, never rewrite the table). The read-back
    * aggregate proves both halves: the target partition carries the
    * corrected values and the untouched partitions still carry the
    * originals (a static overwrite would have emptied them). */
  def s14DynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = Tables.scratchDir("s14_dynover", sfDir)
    // per-write option, NOT session conf: scoping the mode to the writer
    // leaves the session untouched, so concurrent queries on the same
    // SparkSession can never observe a half-set overwrite mode
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").option("partitionOverwriteMode", "STATIC")
      .partitionBy("o_orderpriority").parquet(dir)
    Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        (col("o_totalprice") * 1.1).as("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite").option("partitionOverwriteMode", "DYNAMIC")
      .partitionBy("o_orderpriority").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.Det.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** S9 — sorted layout write + stats-pruned read: lineitem
    * range-partitioned and sorted by ship date, written as parquet, read
    * back with a date filter. Because each file/row-group covers a
    * narrow l_shipdate range, the parquet min/max stats let the scan
    * skip almost everything outside the predicate — this layout step is
    * what makes selective scans cheap on a 100 TB table. */
  def s9SortedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    // PURE LAYOUT → the version-salted cross-process artifact tier
    // (VERDICT r11 #4): the sorted layout is a function of (corpus,
    // config) only, so the first process per corpus pays the write and
    // every later Verify/Bench run pays only the stats-pruned read —
    // exactly how a 100 TB lake amortizes its layout jobs
    val home = Tables.stagedHome("s9_layout", sfDir, Seq("lineitem"),
      "r8_sorted")
    Tables.ensureStaged(home) { tmp =>
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }
    Tables.tune(spark).read.parquet(home.getAbsolutePath)
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-09-01").cast("timestamp"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").cast("string")
        .as("ship_month"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("ship_month"))
  }

  /** S7b — catalog-managed table: filtered lineitem saved via
    * saveAsTable into the session catalog (spark-warehouse parquet),
    * read back through the catalog, and aggregated. Covers the
    * CREATE TABLE AS / catalog-read path next to the path-based S-family. */
  def s7bCatalogTable(spark: SparkSession, sfDir: String): DataFrame = {
    val t = "graft_cat_lineitem"
    // explicit per-process data location (Tables.scratchDir): the shared
    // session warehouse dir would let two concurrent Verify processes
    // race each other's table files — VERDICT r6 #2
    val loc = s"${Tables.scratchDir("s7b_tbl", sfDir)}/$t"
    ScaleOps.dropTableAt(spark, t, loc)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 49.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .write.mode("overwrite").option("path", loc).saveAsTable(t)
    spark.table(t)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** S16 — XML source/sink round-trip (Spark 4 ships the former
    * spark-xml as a built-in format): the supplier table written as XML
    * rows, read back with the source schema pinned (XML carries no
    * types), aggregated; the oracle computes the same aggregate straight
    * from parquet, so any loss or mangling in the XML round-trip breaks
    * the hash. Doubles survive exactly for the same reason as CSV/JSON
    * (s5c): shortest-round-trip decimal text. */
  def s16Xml(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("s16_xml", sfDir)
    val src = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    src.write.mode("overwrite").format("xml")
      .option("rootTag", "suppliers").option("rowTag", "supplier").save(dir)
    Tables.tune(spark).read.format("xml").option("rowTag", "supplier")
      .schema(src.schema).load(dir)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("s_acctbal")).as("sum_bal"),
        countDistinct(col("s_name")).as("n_names"))
      .orderBy(col("s_nationkey"))
  }

  /** S17 — Avro source/sink round-trip (spark-avro ships in the Spark 4
    * distribution): same contract shape as S16 — lineitem slice written
    * as Avro, read back, aggregated, oracle computed straight from
    * parquet so any round-trip loss breaks the hash. Avro is the
    * row-oriented interchange format of a streaming/CDC pipeline (Kafka
    * payloads), the complement of the columnar parquet/ORC pair. */
  def s17Avro(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("s17_avro", sfDir)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_extendedprice"))
      // fully-qualified provider: the Avro classes ship inside
      // spark-sql_2.13 in this distribution but are NOT service-registered
      // (Spark treats avro as an external module), so the "avro" short
      // name does not resolve
      .write.mode("overwrite")
      .format("org.apache.spark.sql.avro.AvroFileFormat").save(dir)
    Tables.tune(spark).read
      .format("org.apache.spark.sql.avro.AvroFileFormat").load(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_price"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  /** S19 — NESTED parquet round-trip (struct + array + map columns):
    * a nested shape is built from orders, written to parquet (real
    * nested encoders — definition/repetition levels, not flat columns),
    * read back, and FLATTENED to scalars for the compare; the oracle
    * recomputes the same scalars straight from the flat table, so any
    * loss or reordering inside the nested codec breaks the hash. The
    * output stays scalar because raw struct/array columns don't survive
    * the driver's hash compare (SURVEY §1.3). */
  def s19NestedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    // pure layout → staged cross-process (VERDICT r11 #4; the s9 note)
    val home = Tables.stagedHome("s19_nested", sfDir, Seq("orders"), "v1")
    Tables.ensureStaged(home) { tmp =>
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("price")).as("meta"),
          array(col("o_totalprice"), col("o_totalprice") * 2,
            col("o_totalprice") * 3).as("tiers"),
          map(lit("pri"), col("o_orderpriority"), lit("day"),
            date_format(col("o_orderdate"), "yyyy-MM-dd")).as("tags"))
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }
    Tables.tune(spark).read.parquet(home.getAbsolutePath)
      .select(col("o_orderkey"),
        col("meta.status").as("status"),
        col("meta.price").as("price"),
        element_at(col("tiers"), 2).as("tier2"),
        size(col("tiers")).as("n_tiers"),
        element_at(col("tags"), "pri").as("pri"),
        element_at(col("tags"), "day").as("day"))
      .orderBy(col("o_orderkey"))
  }

  /** S18 — small-files compaction (the #1 operational chore of a
    * streaming-fed lake: micro-batches leave thousands of KB-files that
    * crush scan planning): a 64-file fragmented layout is bin-packed to
    * a MEASURED target file size — output file count = ceil(measured
    * input bytes / `spark.graft.compact.targetFileBytes`), not a
    * hardcoded constant. The claim columns prove rows and values survive
    * exactly, the file count really dropped, and the output is
    * right-sized: the written file count is within one bin of the ideal
    * count for the bytes actually written (re-measured after the write,
    * because compaction itself collapses per-file overhead) and the mean
    * output file stays under 2x the target. File listings are
    * driver-side metadata bounded by file count (the s15 class). At
    * 100 TB the same op runs per-partition with the same arithmetic —
    * the repartition is the only shuffle and its width IS the layout. */
  def s18Compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val targetBytes =
      s.conf.get("spark.graft.compact.targetFileBytes", "262144").toLong
    def bins(bytes: Long): Long =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
    }
    // BOTH layouts (fragmented + compacted) are pure functions of
    // (corpus, targetBytes) → staged cross-process as named subdirs
    // (VERDICT r11 #4); the claim columns are re-MEASURED from the
    // staged listings on every run, so a corrupted or stale layout
    // flips a claim rather than silently passing
    val home = Tables.stagedHome("s18_compact", sfDir, Seq("orders"),
      s"t$targetBytes")
    Tables.ensureStaged(home) { tmp =>
      val frag = s"${tmp.getAbsolutePath}/frag"
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      val nOut = bins(dataFiles(frag).map(_.getLen).sum).toInt
      s.read.parquet(frag).repartition(nOut)
        .write.mode("overwrite").parquet(s"${tmp.getAbsolutePath}/compact")
    }
    val fragFiles = dataFiles(s"$home/frag")
    val outFiles = dataFiles(s"$home/compact")
    val outBytes = outFiles.map(_.getLen).sum
    val sizeOk =
      math.abs(outFiles.length - bins(outBytes)) <= 1 &&
        outBytes.toDouble / outFiles.length <= 2.0 * targetBytes
    val compact = s.read.parquet(s"$home/compact")
    compact.agg(count(lit(1)).as("n_rows"),
        Det.dsum(col("o_totalprice")).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_keys"))
      .withColumn("compacted", lit(fragFiles.length > outFiles.length))
      .withColumn("size_ok", lit(sizeOk))
  }

  /** S21 — snapshot-versioned table layout with time travel (the
    * poor-man's Delta/Iceberg: immutable version directories +
    * partition-discovered version column, the convention a lake uses
    * when no table format is available): version 1 is the raw snapshot;
    * version 2 is a CDC restatement computed BY READING THE v1 FILES
    * (deletes `% 10 = 0`, +100.00 upserts on `% 10 = 1`) and written to
    * its own directory — v1 is never touched. Reading the root
    * partition-discovers `v` and both snapshots aggregate side by side,
    * which is exactly a time-travel query; the oracle recomputes both
    * versions from the source table, so any mutation of v1 during the
    * v2 write (or loss in the v2 derivation) breaks the hash. */
  def s21SnapshotVersions(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    // both immutable version dirs are pure functions of the corpus →
    // staged cross-process as named subdirs (VERDICT r11 #4)
    val home = Tables.stagedHome("s21_snap", sfDir, Seq("customer"), "v2cdc")
    Tables.ensureStaged(home) { tmp =>
      val base = tmp.getAbsolutePath
      Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.mode("overwrite").parquet(s"$base/v=1")
      // the restatement reads the COMMITTED v1 files, not the source
      s.read.parquet(s"$base/v=1")
        .filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 1, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .write.mode("overwrite").parquet(s"$base/v=2")
    }
    val base = home.getAbsolutePath
    s.read.option("basePath", base).parquet(s"$base/v=1", s"$base/v=2")
      .groupBy(col("v").cast("int").as("v"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_custkey")).as("n_keys"),
        Det.dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("v"))
  }

  /** S22 — DYNAMIC partition pruning (the runtime form of s8's static
    * pruning): orders staged year-partitioned, joined to a tiny
    * era-dimension whose FILTER IS ON A NON-PARTITION ATTRIBUTE — the
    * set of fact partitions to read is unknowable at plan time and is
    * derived at runtime from the dim's broadcast (Catalyst's
    * PartitionPruning inserts a `dynamicpruning` subquery reusing the
    * join's broadcast; Extras8Spec pins it in the plan along with the
    * partition count actually read). At 100 TB this is the mainstream
    * star-join saver: a date-dim filter prunes a date-partitioned fact
    * to the qualifying partitions without scanning the rest. Values
    * are plan-independent; the oracle recomputes from base orders with
    * the dim semantics inlined. */
  def s22DynamicPartitionPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val base = Tables.scratchDir("s22_dpp", sfDir)
    val factDir = s"$base/fact"
    val dimDir = s"$base/dim"
    Tables.orders(s, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(factDir)
    import s.implicits._
    // the corpus spans 1995..2001 (TESTDATA); 'early' = first 3 years
    (1995 to 2001).map(y => (y, if (y <= 1997) "early" else "late"))
      .toDF("o_year", "era")
      .write.mode("overwrite").parquet(dimDir)
    val fact = s.read.parquet(factDir)
    val dim = s.read.parquet(dimDir).filter(col("era") === "early")
    fact.join(dim, "o_year")
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("revenue"))
      .select(col("o_year").cast("long").as("o_year"), col("n"),
        col("revenue"))
      .orderBy(col("o_year"))
  }

  /** S23 — malformed-record handling on the CSV source (the crawl-feed
    * robustness surface): a staged CSV directory of well-formed nation
    * rows PLUS two planted malformed lines read under all three parser
    * modes — DROPMALFORMED keeps exactly the good rows, PERMISSIVE
    * keeps every line and quarantines the bad ones in
    * `_corrupt_record` (the count is data, not a log line), FAILFAST
    * refuses the file (asserted as a caught analysis/runtime error).
    * Claims are tied to the nation row count so the oracle recomputes
    * them; the planted-bad count is a staged constant. */
  def s23CsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = Tables.scratchDir("s23_csv", sfDir)
    Tables.nation(s, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.mode("overwrite").csv(dir)
    // both planted lines are TYPE-malformed (unparseable INT key):
    // the CSV reader tolerates missing/extra trailing tokens, so token
    // count alone is not a malformed record — a wrong-typed field is
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "zz_bad.csv"),
      "notanint,BADLAND,alsobad\nx1,BADTWO,9\n")
    // TWO parse-avoidance fast paths must be defeated for malformed
    // detection to mean anything: `count()` on a CSV read parses no
    // fields at all (it counts raw lines — even a type-garbage row
    // "counts"), and column pruning parses only the fields a query
    // references (a bad INT field is invisible to a name-only
    // projection, and Catalyst re-prunes aggregates no matter what the
    // reader conf says). localCheckpoint materializes the FULL row set
    // before any counting, so every record is completely parsed under
    // its mode — exactly what an ingest reading all columns does.
    val schema = "n_nationkey INT, n_name STRING, n_regionkey INT, " +
      "_corrupt_record STRING"
    val perm = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir).localCheckpoint(true)
    val permAgg = perm.agg(count(col("n_name")).as("n"),
      count(col("_corrupt_record")).as("c")).collect()(0)
    val (nPermissive, nCorrupt) = (permAgg.getLong(0), permAgg.getLong(1))
    val nDrop = s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("mode", "DROPMALFORMED").csv(dir)
      .localCheckpoint(true).count()
    val failfastThrows =
      try {
        s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .option("mode", "FAILFAST").csv(dir).localCheckpoint(true)
        false
      } catch { case _: Throwable => true }
    import s.implicits._
    Seq((nPermissive, nDrop, nCorrupt, failfastThrows))
      .toDF("n_permissive", "n_dropmalformed", "n_corrupt",
        "failfast_throws")
  }

  /** S24 — file-provenance lineage at scan time: a multi-feed landing
    * zone (three staged sub-directories, one per upstream feed) read in
    * ONE scan with `recursiveFileLookup`, each row tagged with its
    * source feed via `input_file_name()` — the audit column every
    * ingest writes so a bad upstream batch can be traced and surgically
    * re-dropped (x29/x30's CDC machinery consumes exactly this tag).
    * The lineage is parsed from the path with one regexp; per-feed
    * counts and key ranges then verify against the staging rule, which
    * the oracle recomputes from the base table. input_file_name is
    * per-row metadata from the scan — no join, no extra pass. */
  def s24FileLineage(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val base = Tables.scratchDir("s24_lineage", sfDir)
    (0 to 2).foreach { g =>
      Tables.nation(s, sfDir)
        .filter(pmod(col("n_nationkey"), lit(3)) === g)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/feed_g$g")
    }
    s.read.option("recursiveFileLookup", "true").parquet(base)
      .withColumn("feed",
        regexp_extract(input_file_name(), "feed_g(\\d+)", 1).cast("int"))
      .groupBy(col("feed"))
      .agg(count(lit(1)).as("n"), min(col("n_nationkey")).as("min_key"),
        max(col("n_nationkey")).as("max_key"))
      .orderBy(col("feed"))
  }

  /** S25 — corrupt-file tolerance (s23's file-level sibling): a landing
    * directory holding good parquet plus one truncated-garbage file.
    * The default read fails loudly (asserted); with
    * `ignoreCorruptFiles` the scan skips the bad FILE and returns every
    * good row — the crawl-ingest posture where one bad upstream shard
    * must not kill the nightly job. Claims are tied to the nation row
    * count; the planted-garbage outcome is a staged constant. */
  def s25CorruptFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = Tables.scratchDir("s25_corrupt", sfDir)
    Tables.nation(s, sfDir).select(col("n_nationkey"), col("n_name"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "zz_truncated.parquet"),
      "PAR1thisisnotavalidparquetfooter".getBytes("UTF-8"))
    val strictThrows =
      try { s.read.parquet(dir).localCheckpoint(true).count(); false }
      catch { case _: Throwable => true }
    val n = s.read.option("ignoreCorruptFiles", "true").parquet(dir)
      .localCheckpoint(true).count()
    import s.implicits._
    Seq((n, strictThrows)).toDF("n_good", "strict_throws")
  }

  /** S26 — columnar cache (`Dataset.cache` → InMemoryRelation): a
    * filtered projection cached once, TWO different aggregates served
    * from the same in-memory columnar relation (the dashboard /
    * repeated-subquery lever: one scan feeds N readers). The contract
    * row is the second aggregate — value-identical to the uncached
    * computation, which is precisely what the oracle checks — and the
    * spec pins InMemoryTableScan in its plan plus the batch-columnar
    * input. The cache is REFERENCE-COUNTED OUT before return: the
    * result is localCheckpoint-materialized, then the base unpersisted,
    * so a 280-query bench session doesn't accrete storage memory. */
  def s26CachedTable(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_custkey"))
      .cache()
    try {
      base.count(): Unit   // materialize the cache (reader #1)
      cachedAgg(base).localCheckpoint(true)
    } finally { base.unpersist(false): Unit }
  }

  /** Reader #2 over the cached base — split out so the spec can pin
    * InMemoryTableScan on exactly the frame the contract row emits. */
  def cachedAgg(base: DataFrame): DataFrame =
    base.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"),
        sum(col("o_totalprice").cast(Det.Money)).cast("double").as("total"))
      .orderBy(col("o_orderpriority"))

  /** S27 — nested-schema pruning: documents staged as a NESTED layout
    * (meta struct wrapping the scalar attributes, the shape real
    * document corpora ship in) and aggregated by ONE nested leaf —
    * Catalyst prunes the read schema to `meta.lang` alone, so the text
    * bodies (the bulk of every bytes-on-disk document table) are never
    * decoded. The spec asserts the scan's ReadSchema contains the one
    * leaf and NOT the text column; at 100 TB this pruning is the
    * difference between a metadata query and a full-corpus read. */
  def s27NestedPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    // staged cross-process (VERDICT r11 #4) — the corpus fingerprint
    // in the home key replaces the old per-process row-count marker
    // (and drops the count() scan every call paid to check it)
    val home = Tables.stagedHome("s27_nested", sfDir, Seq("documents"), "v1")
    Tables.ensureStaged(home) { tmp =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"),
          col("text"))
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }
    nestedLangCounts(s.read.parquet(home.getAbsolutePath))
  }

  /** The pruned aggregate over the staged nested frame — split out so
    * the spec can assert its scan's ReadSchema. */
  def nestedLangCounts(nested: DataFrame): DataFrame =
    nested.groupBy(col("meta.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** S28 — compression-codec matrix (the storage knob a 100 TB lake
    * actually budgets with): the same projection written as parquet
    * under snappy / zstd / gzip, each read back and aggregated — codec
    * choice must be value-neutral (the oracle recomputes from the base
    * table per codec), and the staged files must really carry the
    * codec (extension check emitted as data, so a silently-ignored
    * option would flip a claim, not pass). */
  def s28CodecMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val codecs = Seq("snappy", "zstd", "gzip")
    // three pure layouts → staged cross-process as named subdirs
    // (VERDICT r11 #4); the codec-extension claim is re-checked from
    // the staged listing every run
    val home = Tables.stagedHome("s28_codec", sfDir, Seq("lineitem"), "q40")
    Tables.ensureStaged(home) { tmp =>
      val base = Tables.lineitem(spark, sfDir)
        .filter(col("l_quantity") > 40.0)
        .select(col("l_orderkey"), col("l_extendedprice"))
      codecs.foreach { codec =>
        base.write.mode("overwrite").option("compression", codec)
          .parquet(s"${tmp.getAbsolutePath}/$codec")
      }
    }
    val rows = codecs.map { codec =>
      val dir = s"$home/$codec"
      // parquet names gzip parts ".gz.parquet" (codec short name)
      val ext = if (codec == "gzip") ".gz." else s".$codec."
      val tagged = new java.io.File(dir).listFiles()
        .exists(_.getName.contains(ext))
      val agg = s.read.parquet(dir)
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(Det.Money)).cast("double")
            .as("total")).collect()(0)
      (codec, agg.getLong(0), agg.getDouble(1), tagged)
    }
    import s.implicits._
    rows.toDF("codec", "n", "total", "codec_tagged")
      .orderBy(col("codec"))
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s8_partition_prune" -> (s8PartitionPrune _),
    "s14_dynamic_overwrite" -> (s14DynamicOverwrite _),
    "s9_sorted_write" -> (s9SortedWrite _),
    "s7b_catalog_table" -> (s7bCatalogTable _),
    "s16_xml" -> (s16Xml _),
    "s17_avro" -> (s17Avro _),
    "s18_compaction" -> (s18Compaction _),
    "s19_nested_roundtrip" -> (s19NestedRoundtrip _),
    "s21_snapshot_versions" -> (s21SnapshotVersions _),
    "s22_dpp" -> (s22DynamicPartitionPrune _),
    "s23_csv_malformed" -> (s23CsvMalformed _),
    "s24_file_lineage" -> (s24FileLineage _),
    "s25_corrupt_files" -> (s25CorruptFiles _),
    "s28_codec_matrix" -> (s28CodecMatrix _),
    "s26_cached_table" -> (s26CachedTable _),
    "s27_nested_pruning" -> (s27NestedPruning _))

  val oracles: Map[String, String] = Map(
    "s8_partition_prune" ->
      ("SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS BIGINT) AS o_year " +
       "FROM orders WHERE year(o_orderdate) = 1997 ORDER BY o_orderkey"),
"s14_dynamic_overwrite" ->
      ("SELECT o_orderpriority, COUNT(*) AS n, " +
       "CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' " +
       "THEN o_totalprice * 1.1 ELSE o_totalprice END AS DECIMAL(18,4))) " +
       "AS DOUBLE) AS revenue " +
       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "s9_sorted_write" ->
      ("SELECT strftime(CAST(date_trunc('month', l_shipdate) AS DATE), " +
       "'%Y-%m-%d') AS ship_month, COUNT(*) AS n, " +
       s"${d.dsum("l_extendedprice")} AS revenue FROM lineitem " +
       "WHERE l_shipdate >= TIMESTAMP '1997-06-01' " +
       "AND l_shipdate < TIMESTAMP '1997-09-01' " +
       "GROUP BY 1 ORDER BY ship_month"),
"s7b_catalog_table" ->
      (s"SELECT l_returnflag, COUNT(*) AS n, ${d.dsum("l_quantity")} AS sum_qty " +
       "FROM lineitem WHERE l_quantity > 49.0 " +
       "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // XML round-trip must equal the aggregate straight off parquet
    "s16_xml" ->
      ("SELECT s_nationkey, COUNT(*) AS n, " +
       s"${d.dsum("s_acctbal")} AS sum_bal, " +
       "COUNT(DISTINCT s_name) AS n_names " +
       "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
// compacted/size_ok are claims the Spark side measures from the real
    // file listings (count dropped; output within one bin of ideal for
    // the bytes written and mean file <= 2x target); the oracle states
    // them as constants and recomputes the data columns from source
    "s18_compaction" ->
      ("SELECT COUNT(*) AS n_rows, " +
       s"${d.dsum("o_totalprice")} AS revenue, " +
       "COUNT(DISTINCT o_orderkey) AS n_keys, " +
       "TRUE AS compacted, TRUE AS size_ok FROM orders"),
"s19_nested_roundtrip" ->
      ("SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price, " +
       "o_totalprice * 2 AS tier2, CAST(3 AS INT) AS n_tiers, " +
       "o_orderpriority AS pri, strftime(o_orderdate, '%Y-%m-%d') AS day " +
       "FROM orders ORDER BY o_orderkey"),
"s17_avro" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
       s"${d.dsum("l_quantity")} AS sum_qty, " +
       s"${d.dsum("l_extendedprice")} AS sum_price, " +
       "COUNT(DISTINCT l_orderkey) AS n_orders " +
       "FROM lineitem WHERE l_quantity > 45.0 " +
       "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // both snapshots recomputed from source: v1 = raw, v2 = the CDC rule
    "s21_snapshot_versions" ->
      ("SELECT CAST(1 AS INT) AS v, COUNT(*) AS n, " +
       "COUNT(DISTINCT c_custkey) AS n_keys, " +
       s"${graft.Det.sql.dsum("c_acctbal")} AS sum_bal FROM customer " +
       "UNION ALL " +
       "SELECT CAST(2 AS INT), COUNT(*), COUNT(DISTINCT c_custkey), " +
       s"${graft.Det.sql.dsum(
         "CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100.0 " +
         "ELSE c_acctbal END")} FROM customer WHERE c_custkey % 10 <> 0 " +
       "ORDER BY v"),
    // dim semantics inlined: era 'early' = years 1995..1997
    "s22_dpp" ->
      ("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
       "COUNT(*) AS n, " +
       "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
       "FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997 " +
       "GROUP BY 1 ORDER BY o_year"),
// n_permissive = nation rows + 2 planted lines; dropmalformed keeps
    // exactly the good rows; both bad lines land in _corrupt_record
    "s23_csv_malformed" ->
      ("SELECT (SELECT COUNT(*) FROM nation) + 2 AS n_permissive, " +
       "(SELECT COUNT(*) FROM nation) AS n_dropmalformed, " +
       "CAST(2 AS BIGINT) AS n_corrupt, TRUE AS failfast_throws"),
    // the staging rule restated over base nation: feed g holds the
    // n_nationkey % 3 = g rows
    "s24_file_lineage" ->
      ("SELECT CAST(n_nationkey % 3 AS INT) AS feed, " +
       "CAST(COUNT(*) AS BIGINT) AS n, MIN(n_nationkey) AS min_key, " +
       "MAX(n_nationkey) AS max_key FROM nation GROUP BY 1 ORDER BY feed"),
    "s25_corrupt_files" ->
      ("SELECT CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_good, " +
       "TRUE AS strict_throws"),
    // codec choice must be value-neutral; the tag claim pins that the
    // option was honored
    "s28_codec_matrix" ->
      (Seq("gzip", "snappy", "zstd").map { c =>
        s"SELECT '$c' AS codec, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS total, TRUE AS codec_tagged " +
        "FROM lineitem WHERE l_quantity > 40.0"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY codec")),
// the cache must be value-transparent: same aggregate straight off
    // the parquet table
    "s26_cached_table" ->
      ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, " +
       "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
       "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total " +
       "FROM orders WHERE o_orderstatus = 'O' " +
       "GROUP BY 1 ORDER BY o_orderpriority"),
// the nested staging is a pure re-shape: counts come straight off
    // the base table
    "s27_nested_pruning" ->
      ("SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs " +
       "FROM documents GROUP BY 1 ORDER BY lang"))
}
