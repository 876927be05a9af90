package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.operators.{BasketOps, GraphOps, TextOps}

/** The corpus loaders in [[Tables]]:
  *
  *  1. SCHEMA PARITY: the footer schema each loader passes to
  *     `read.schema(...)` is exactly what `spark.read.parquet` infers
  *     (nullability and metadata included), for single-file tables and
  *     for a flat directory of part files.
  *  2. NO JOB: building any loader's DataFrame launches no Spark job.
  *  3. WIDTHS: the size-proportional width helpers sum a directory
  *     table's part files, fall to their minimum on a missing corpus,
  *     and are unchanged on the single-file corpora.
  *  4. LINT: no main source outside Tables.scala hand-builds a corpus
  *     read, which would bring the schema-inference job back.
  *  5. FINGERPRINT: the staleness fingerprint reads every data file, so
  *     rewriting one part of a directory table changes it.
  */
class TablesSpec extends SparkSpec {

  private val testdata = new File(sf).getParent
  private val corpora = Seq(sf, s"$testdata/sf0.01")

  private def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }

  test("footer schema equals the inferred schema for every corpus table") {
    for (d <- corpora; n <- Tables.names) {
      val inferred = spark.read.parquet(s"$d/$n.parquet").schema
      assert(Tables.table(spark, d, n).schema == inferred, s"$d/$n")
    }
  }

  test("flat multi-part directory: first data file's footer, same schema and rows") {
    val base = Files.createTempDirectory("graft_tables_dir").toFile
    try {
      val dir = s"${base.getAbsolutePath}/orders.parquet"
      Tables.orders(spark, sf).repartition(3).write.parquet(dir)
      val names = Option(new File(dir).list()).getOrElse(Array.empty).toSet
      assert(names.contains("_SUCCESS") && names.exists(_.startsWith(".")),
        s"expected Spark's marker and checksum files beside the parts: $names")
      val files = Tables.dataFiles(base.getAbsolutePath, "orders")
      assert(files.size == 3)
      assert(files.map(_.getFileName.toString) ==
        files.map(_.getFileName.toString).sorted)
      assert(files.forall(_.getFileName.toString.startsWith("part-")))
      val loaded = Tables.orders(spark, base.getAbsolutePath)
      assert(loaded.schema == spark.read.parquet(dir).schema)
      assert(loaded.count() == Tables.orders(spark, sf).count())
    } finally rm(base)
  }

  test("missing table: Spark still reports the path") {
    val base = Files.createTempDirectory("graft_tables_missing").toFile
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Tables.orders(spark, base.getAbsolutePath))
      assert(e.getMessage.contains("orders.parquet"))
    } finally rm(base)
  }

  test("loaders launch no Spark job (a plain inferred read does)") {
    val tag = "graft-tables-nojob"
    val marker = "marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(",").contains(tag)))
          seen.add(prop("spark.job.description").getOrElse(""))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      for (d <- corpora) {
        Tables.names.foreach(Tables.table(spark, d, _))
        Seq[(SparkSession, String) => Any](Tables.region, Tables.nation,
          Tables.customer, Tables.supplier, Tables.part, Tables.orders,
          Tables.lineitem, Tables.events, Tables.eventsUs,
          Tables.documents, Tables.embeddings).foreach(_(spark, d))
      }
      // control: the inferred read the loaders replace does run a job
      sc.setJobDescription("control")
      spark.read.parquet(s"$sf/region.parquet")
      // FIFO bus: once the marker job is seen, every earlier job is too
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val jobs = seen.asScala.toSeq
      assert(jobs.last == marker, s"marker job not observed: $jobs")
      val before = jobs.init
      assert(before.nonEmpty && before.forall(_ == "control"),
        s"loaders launched jobs: $jobs")
    } finally {
      sc.setJobDescription(null)
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Sparse file: a large logical size costs no disk. */
  private def sparse(f: File, bytes: Long): Unit = {
    f.getParentFile.mkdirs()
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  test("corpus fingerprint: rewriting one part of a directory corpus changes it") {
    val base = Files.createTempDirectory("graft_tables_fp").toFile
    try {
      val d = base.getAbsolutePath
      val dir = Paths.get(s"$d/orders.parquet")
      Tables.orders(spark, sf).repartition(3).write.parquet(dir.toString)
      def entry = s"${Files.size(dir)}:${Files.getLastModifiedTime(dir).toMillis}"
      val before = Tables.corpusFingerprint(d, "orders")
      val entryBefore = entry
      assert(Tables.corpusFingerprint(d, "orders") == before, "stable")
      // rewrite one part in place, one byte longer: the directory entry
      // (what a fingerprint of the path alone reads) does not move
      val part = Tables.dataFiles(d, "orders")(1)
      Files.write(part, Files.readAllBytes(part) :+ 0.toByte)
      assert(entry == entryBefore)
      val after = Tables.corpusFingerprint(d, "orders")
      assert(after != before, s"$before -> $after")
      assert(Tables.sharedDir("t", d, after) != Tables.sharedDir("t", d, before))
      // single-file tables fingerprint their one file
      val one = Paths.get(s"$sf/orders.parquet")
      assert(Tables.corpusFingerprint(sf, "orders") ==
        s"orders.parquet:${Files.size(one)}:" +
          s"${Files.getLastModifiedTime(one).toMillis}")
    } finally rm(base)
  }

  test("width helpers sum a directory table's part files") {
    val mib = 1L << 20
    val base = Files.createTempDirectory("graft_tables_width").toFile
    try {
      val li = new File(base, "lineitem.parquet")
      sparse(new File(li, "part-00000.parquet"), 600 * mib)
      sparse(new File(li, "part-00001.parquet"), 600 * mib)
      sparse(new File(li, "_SUCCESS"), 0)
      sparse(new File(li, ".part-00000.parquet.crc"), 1024 * mib)
      sparse(new File(base, "orders.parquet"), 100 * mib)
      sparse(new File(base, "documents.parquet/part-00000.parquet"), 700 * mib)
      val d = base.getAbsolutePath
      assert(Tables.corpusBytes(d, "lineitem") == 1200 * mib)
      assert(Tables.corpusBytes(d, "lineitem", "orders") == 1300 * mib)
      assert(BasketOps.factWidth(d) == 18)  // 1200 / 64
      assert(GraphOps.adjBuckets(d) == 32)  // 1300 / 64 + 1 = 21 -> 32
      assert(TextOps.docWidth(d) == 10)     // 700 / 64
    } finally rm(base)
  }

  test("width helpers fall to their minimum on a missing corpus") {
    val base = Files.createTempDirectory("graft_tables_nowidth").toFile
    try {
      val d = base.getAbsolutePath
      assert(Tables.corpusBytes(d, "lineitem") == 0L)
      intercept[java.nio.file.NoSuchFileException](
        Tables.dataFiles(d, "lineitem"))
      assert(BasketOps.factWidth(d) == 8)
      assert(GraphOps.adjBuckets(d) == 8)
      assert(TextOps.docWidth(d) == 2)
    } finally rm(base)
  }

  test("width helpers unchanged on the single-file corpora") {
    def size(d: String, n: String) = Files.size(Paths.get(s"$d/$n.parquet"))
    for (d <- corpora :+ s"$testdata/sf0.1"
        if new File(s"$d/lineitem.parquet").isFile) {
      val li = size(d, "lineitem")
      val fact = li + size(d, "orders")
      var nb = 8
      while (nb < (fact / (64L << 20)).toInt + 1 && nb < 1024) nb *= 2
      assert(BasketOps.factWidth(d) == math.max(8L, li / (64L << 20)).toInt)
      assert(GraphOps.adjBuckets(d) == nb)
      assert(TextOps.docWidth(d) ==
        math.max(2L, size(d, "documents") / (64L << 20)).toInt)
      Tables.names.foreach { n =>
        assert(Tables.dataFiles(d, n) == Seq(Paths.get(s"$d/$n.parquet")))
      }
    }
  }

  /** A read (`.read` or `.readStream`) whose path is a hand-built corpus
    * file, `s"$sfDir/<table>.parquet"`, within one statement. */
  private val handBuiltCorpusRead =
    ("""\.(?:read|readStream)\b(?:(?!\.write\b)[^;]){0,400}?""" +
      """\.(?:parquet|load)\(\s*s"\$\{?sfDir\}?/[^"]*\.parquet"""").r

  test("lint pattern: catches hand-built corpus reads, passes the rest") {
    val bad = Seq(
      """spark.read.parquet(s"$sfDir/orders.parquet")""",
      """spark.read.parquet(s"$sfDir/$name.parquet")""",
      """s.read.format("parquet").load(s"${sfDir}/lineitem.parquet")""",
      "s.readStream.schema(schema)\n  .option(\"k\", \"1\")" +
        "\n  .parquet(s\"$sfDir/events.parquet\")")
    val ok = Seq(
      "s.read.parquet(home.getAbsolutePath)",
      """df.write.parquet(s"$sfDir/orders.parquet")""",
      """Files.size(Paths.get(s"$sfDir/events.parquet"))""",
      "Tables.tune(spark).readStream.schema(schema).parquet(dir)",
      """s.read.parquet(s"$outDir/data")""")
    bad.foreach(t => assert(handBuiltCorpusRead.findFirstIn(t).nonEmpty, t))
    ok.foreach(t => assert(handBuiltCorpusRead.findFirstIn(t).isEmpty, t))
  }

  test("lint: only Tables.scala builds corpus reads") {
    val srcRoot = new File("src/main/scala")
    assert(srcRoot.isDirectory, "spec expects repo-root working dir")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val offenders = for {
      f <- walk(srcRoot) if f.getName != "Tables.scala"
      text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      m <- handBuiltCorpusRead.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      s"corpus reads built by hand (use the Tables loaders, which pass " +
        s"the footer schema so no inference job runs): $offenders")
  }
}
