package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.BuildLog

/** Benchmark passes in one JVM: `--passes` times, set a session up and
  * run the workload's rows one after another over it (build the
  * DataFrame, then `count()`); then write a JSON record of the run.
  *
  * {{{
  * perfbench.Harness --workload olap --seed 0 --sf-dir DIR --cpus 3 \
  *   --trace 0 --passes 3 --out run.json [--only a,b,c]
  * perfbench.Harness --dump-oracles oracles.json --workload olap
  * }}}
  *
  * Every pass runs the rows in the same order (the seed's) on a fresh
  * session, after the previous session is stopped and the contents of
  * `java.io.tmpdir` are removed, so each pass starts from an empty
  * staged-artifact tier, empty session memos and a collected heap.
  * Every row and set-up also records the machine's stolen and busy CPU
  * ticks, so run.py can take the hypervisor's stolen time out of its
  * latency. `--only ''` sets up once and exits. With `--trace 1` every pass is
  * traced and the record keeps the last pass's trace. `java.io.tmpdir`
  * should be a fresh directory per run (run.py makes one). */
object Harness {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val ticks0 = cpuTicks()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val all = Workloads.rows(workload)
    opts.get("dump-oracles") match {
      case Some(path) =>
        val sql = all.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
        mapper.writeValue(new java.io.File(path), Trace.obj(sql: _*))
      case None => run(opts, all, ticks0)
    }
  }

  private def run(opts: Map[String, String], all: Seq[String], ticks0: (Long, Long)): Unit = {
    val only = opts.get("only").map(_.split(",").toSet)
    val rows = Workloads.ordered(all.filter(n => only.forall(_(n))),
      opts.getOrElse("seed", "0").toLong)
    val sfDir = opts("sf-dir")
    val cpus = opts.getOrElse("cpus", "4").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val passes = if (rows.isEmpty) 1 else opts.getOrElse("passes", "1").toInt
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var setupS = Vector.empty[Double]
    var setupTicks = Vector.empty[java.util.List[Long]]
    var spark: SparkSession = null
    var trace: Option[Trace] = None
    val passRecords = (1 to passes).map { p =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        emptyDirs(tmp)
        // start each pass on a collected heap, not the last pass's garbage
        System.gc()
      }
      // the first set-up is timed from JVM start, the others from stop()
      val t0 = if (p == 1) jvmStartMs else System.currentTimeMillis()
      val k0 = if (p == 1) ticks0 else cpuTicks()
      spark = setUp(sfDir, cpus)
      setupS :+= (System.currentTimeMillis() - t0) / 1e3
      setupTicks :+= ticksSince(k0)
      if (traced) {
        trace = Some(new Trace)
        trace.foreach(_.register(spark))
      }
      onePass(spark, sfDir, rows, traced)
    }
    BuildLog.setCurrent("")
    val quiet = trace.forall(_.awaitQuiet(30000))

    val record = Trace.obj(
      "jvm_start_ms" -> jvmStartMs,
      "setup_s" -> setupS.map(Double.box).asJava,
      "setup_ticks" -> setupTicks.asJava,
      "passes" -> passRecords.asJava,
      "trace_quiet" -> quiet,
      "trace" -> trace.map(_.toJava).orNull,
      "vm_hwm_mb" -> vmHwmMb)
    mapper.writeValue(new java.io.File(opts("out")), record)
    spark.stop()
  }

  /** One pass over `rows`: per row its start, build and action time,
    * process CPU time, CPU ticks and count; per pass its CPU and GC time, peak heap,
    * the artifacts `BuildLog` saw built and the staged tier's size. */
  private def onePass(spark: SparkSession, sfDir: String, rows: Seq[String],
      traced: Boolean): java.util.Map[String, Any] = {
    val sc = spark.sparkContext
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    def gcMs = gcs.map(_.getCollectionTime).sum
    // BuildLog's queue is never cleared: keep only what this pass adds
    val before = BuildLog.snapshot()

    val gc0 = gcMs
    val cpu0 = os.getProcessCpuTime
    val passStartMs = System.currentTimeMillis()
    val results = rows.zipWithIndex.map { case (name, i) =>
      val rowTag = s"perfbench.row.$i"
      BuildLog.setCurrent(name)
      if (traced) { sc.addJobTag(rowTag); sc.addJobTag("perfbench.build") }
      val startMs = System.currentTimeMillis()
      val rowCpu0 = os.getProcessCpuTime
      val rowTicks0 = cpuTicks()
      val t0 = System.nanoTime()
      var buildS = -1.0
      var count = -1L
      var error: String = null
      try {
        val df = Workloads.query(name)(spark, sfDir)
        buildS = (System.nanoTime() - t0) / 1e9
        if (traced) { sc.removeJobTag("perfbench.build"); sc.addJobTag("perfbench.action") }
        count = df.count()
      } catch { case e: Throwable =>
        error = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $name FAILED: $error")
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - rowCpu0) / 1e9
      val ticks = ticksSince(rowTicks0)
      if (traced) sc.clearJobTags()
      if (buildS < 0) buildS = totalS
      Trace.obj("name" -> name, "index" -> i, "start_ms" -> startMs,
        "build_s" -> buildS, "action_s" -> (totalS - buildS), "cpu_s" -> cpuS,
        "ticks" -> ticks,
        "count" -> count, "error" -> error)
    }
    val passEndMs = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val builds = BuildLog.snapshot().map { case (k, v) =>
      k -> v.drop(before.getOrElse(k, Nil).size).asJava
    }.filter(_._2.size > 0)
    Trace.obj(
      "pass_start_ms" -> passStartMs, "pass_end_ms" -> passEndMs,
      "cpu_s" -> cpuS, "gc_s" -> gcS,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "rows" -> results.asJava,
      "builds" -> builds.asJava,
      "staged_disk_mb" ->
        diskBytes(new java.io.File(sys.props("java.io.tmpdir"), "graft_shared")) / 1048576.0)
  }

  /** Session as graft.Bench builds it, plus Bench's two warm-ups (one
    * parquet scan, one micro-batch) and one join/aggregate/window/sort
    * query over the small dimension tables, so the first timed row
    * measures its own work rather than class initialisation. */
  private def setUp(sfDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftSparkSessionExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new java.io.File(sys.props("java.io.tmpdir"), "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    Seq("nation", "region", "supplier").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(s"perfbench_$t")
    }
    spark.sql("""SELECT r_name, count(*) AS n, sum(s_acctbal) AS bal,
                |  rank() OVER (ORDER BY sum(s_acctbal) DESC) AS rk
                |FROM perfbench_supplier
                |JOIN perfbench_nation ON s_nationkey = n_nationkey
                |JOIN perfbench_region ON n_regionkey = r_regionkey
                |GROUP BY r_name ORDER BY r_name""".stripMargin).collect()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    ms.addData(1L)
    ms.toDS().groupBy().count().writeStream
      .outputMode("complete").format("memory").queryName("perfbench_warmup")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.catalog.dropTempView("perfbench_warmup")
    spark
  }

  /** Machine-wide CPU ticks from /proc/stat: (stolen by the hypervisor,
    * busy including stolen), or zeros where the file is missing. */
  private def cpuTicks(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // user nice system idle iowait irq softirq steal ...
        val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum - f(3) - f(4))
      } finally src.close()
    }.getOrElse((0L, 0L))

  /** [stolen, busy] ticks since `from`. */
  private def ticksSince(from: (Long, Long)): java.util.List[Long] = {
    val (s, b) = cpuTicks()
    java.util.List.of(s - from._1, b - from._2)
  }

  /** Remove everything below the top-level directories of `dir`, but
    * keep those directories: the engine holds some of them (the staged
    * tier, its per-process scratch root) for the life of the JVM. */
  private def emptyDirs(dir: java.io.File): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    Option(dir.listFiles()).foreach(_.foreach { f =>
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)) else f.delete()
    })
  }

  private def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)
    else f.length()

  /** Peak resident set (VmHWM) of this process, from /proc. */
  private def vmHwmMb: Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
      finally src.close()
    }.getOrElse(-1.0)
}
