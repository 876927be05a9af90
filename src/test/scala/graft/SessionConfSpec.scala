package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

/** [[SessionConf.scoped]], the one section-scoped conf primitive:
  *
  *  1. CONCURRENCY: scopes entered and exited out of order across
  *     threads leave the session with its own values, and the value of
  *     the latest-entered live scope holds while scopes overlap.
  *  2. RESTORE: a key unset before a scope is unset after it, and a
  *     body that throws still restores.
  *  3. CALLERS: st6b hands its state-store confs back to the session.
  *  4. LINT: no main source outside SessionConf.scala sets or unsets a
  *     section-scoped key by hand.
  */
class SessionConfSpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val Unset = "spark.graft.spec.scoped"

  /** Each key's explicit session value, `None` when unset. */
  private def snapshot(keys: String*): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    keys.map(k => k -> set.get(k)).toMap
  }

  private def onThreads(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    try pool.invokeAll(tasks.map(t => new Callable[Unit] {
      def call(): Unit = t()
    }).asJava).asScala.foreach(_.get())
    finally pool.shutdown()
  }

  test("AqeOff scopes are ref-counted across threads: concurrent engine " +
      "sections restore AQE on the session (the Round14 conflict-test " +
      "interleave must not leak adaptive=false)") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    onThreads(4)((1 to 8).map { _ => () =>
      graft.sources.GraftTxn.describedNoAqe(spark, "probe") {
        Thread.sleep(20)
        assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
      }
    })
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the old freeze marker, or any other spark.graft.aqe key, is gone
    assert(!spark.conf.getAll.keys.exists(_.startsWith("spark.graft.aqe")))
    assert(SessionConf.held(spark).isEmpty)
  }

  test("8 threads x 20 out-of-order scopes over the AQE, width and " +
      "listing keys leave the session's original values") {
    val before = snapshot(Aqe, Width, Listing)
    val widths = (2 to 9).map(_.toString).toSet
    onThreads(8)((0 until 8).map { t => () =>
      val rnd = new scala.util.Random(t)
      (1 to 20).foreach { _ =>
        SessionConf.scoped(spark,
            SessionConf.AqeOff :+ (Width -> (2 + t).toString): _*) {
          // a nested scope per iteration: inner exits before outer here,
          // but other threads' scopes interleave with both
          SessionConf.scoped(spark, Width -> (2 + (t + 1) % 8).toString) {
            Thread.sleep(rnd.nextInt(3).toLong)
          }
          Thread.sleep(rnd.nextInt(3).toLong)
          assert(spark.conf.get(Aqe) == "false")
          assert(spark.conf.get(Listing) == "100000")
          assert(widths(spark.conf.get(Width)), spark.conf.get(Width))
        }
      }
    })
    assert(snapshot(Aqe, Width, Listing) == before)
    assert(SessionConf.held(spark).isEmpty)
  }

  test("nested widths A(4) ⊃ B(2), A exits first: the session reads 2 " +
      "until B exits, then its original") {
    val original = spark.conf.get(Width)
    val aIn, bIn, aOut = new CountDownLatch(1)
    var insideB, afterA = ""
    onThreads(2)(Seq(
      () => {
        SessionConf.scoped(spark, Width -> "4") {
          aIn.countDown()
          bIn.await()
        }
        aOut.countDown()
      },
      () => {
        aIn.await()
        SessionConf.scoped(spark, Width -> "2") {
          insideB = spark.conf.get(Width)
          bIn.countDown()
          aOut.await()
          afterA = spark.conf.get(Width)
        }
      }))
    assert(insideB == "2")
    assert(afterA == "2")
    assert(spark.conf.get(Width) == original)
    assert(SessionConf.held(spark).isEmpty)
  }

  test("a key unset before the scope is unset after it") {
    assert(!spark.conf.getAll.contains(Unset))
    SessionConf.scoped(spark, Unset -> "on") {
      assert(spark.conf.get(Unset) == "on")
    }
    assert(!spark.conf.getAll.contains(Unset))
    assert(SessionConf.held(spark).isEmpty)
  }

  test("a body that throws still restores") {
    val before = snapshot(Width, Aqe, Unset)
    intercept[IllegalStateException] {
      SessionConf.scoped(spark, SessionConf.AqeOff ++
          Seq(Width -> "3", Unset -> "on"): _*) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(snapshot(Width, Aqe, Unset) == before)
    assert(SessionConf.held(spark).isEmpty)
  }

  test("st6b hands the state-store provider and changelog checkpointing " +
      "back to the session") {
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val before = snapshot(keys: _*)
    assert(graft.streaming.Streams.st6bTransformWithState(spark, sf)
      .collect().nonEmpty)
    assert(snapshot(keys: _*) == before)
    assert(SessionConf.held(spark).isEmpty)
  }

  /** A hand-written `set`/`unset` of a key that sections scope. */
  private val handScopedConf =
    ("""\.\s*(?:set|unset)\(\s*"(?:spark\.sql\.shuffle\.partitions|""" +
      """spark\.sql\.adaptive\.[^"]*|spark\.sql\.streaming\.stateStore\.[^"]*|""" +
      """spark\.sql\.streaming\.noDataMicroBatches\.enabled|""" +
      """spark\.sql\.files\.[^"]*|spark\.sql\.autoBroadcastJoinThreshold|""" +
      """spark\.sql\.sources\.parallelPartitionDiscovery\.threshold)"""").r

  test("lint pattern: catches hand-set scoped keys, passes the rest") {
    val bad = Seq(
      """spark.conf.set("spark.sql.shuffle.partitions", "8")""",
      "s.conf.set(\n  \"spark.sql.adaptive.skewJoin.skewedPartitionFactor\", \"2\")",
      "spark.conf\n  .unset(\"spark.sql.streaming.stateStore.providerClass\")",
      """c.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")""",
      """spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")""",
      """spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")""",
      """spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")""",
      """c.set("spark.sql.adaptive.enabled", "false")""")
    val ok = Seq(
      """.config("spark.sql.shuffle.partitions", cpus)""",
      """spark.conf.get("spark.sql.shuffle.partitions")""",
      """scoped(spark, "spark.sql.shuffle.partitions" -> "8")""",
      """spark.conf.set("spark.sql.catalog.graft", name)""",
      """conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")""",
      """c.set("spark.sql.session.timeZone", "UTC")""")
    bad.foreach(t => assert(handScopedConf.findFirstIn(t).nonEmpty, t))
    ok.foreach(t => assert(handScopedConf.findFirstIn(t).isEmpty, t))
  }

  test("lint: only SessionConf.scala sets section-scoped keys") {
    val srcRoot = new File("src/main/scala")
    assert(srcRoot.isDirectory, "spec expects repo-root working dir")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val offenders = for {
      f <- walk(srcRoot) if f.getName != "SessionConf.scala"
      text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      m <- handScopedConf.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      s"section-scoped confs set by hand (use SessionConf.scoped, which " +
        s"restores the session's values however scopes exit): $offenders")
  }
}
