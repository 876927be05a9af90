package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

// top-level (not object-private): Catalyst codegen instantiates these from
// generated classes, which cannot access private nested types
case class EvRow(event_id: Long, user_id: Long, value: Double)
case class UserStats(user_id: Long, n_events: Long, max_value: Double)
case class EvTs(user_id: Long, ts_us: Long, event_id: Long)
case class SessionOut(user_id: Long, sess_start_us: Long,
    sess_end_us: Long, n_events: Long)

/** Timer-driven sessionization for ST13: per-user 30-minute-gap
  * sessions, closed ONLY by the event-time watermark passing
  * last_event + gap (handleExpiredTimer) — handleInputRows never emits,
  * it only interval-merges events into the key's OPEN session list.
  * This is the streaming-native form of session_window that stays
  * batch-equivalent under out-of-order arrival: until the watermark
  * proves a gap final, both sides of it remain open, so a late event
  * (legal within the watermark delay) can still bridge them. State is
  * the open-session triples (usually one) per live user plus one
  * registered timer at the earliest horizon. */
object SessionProcessor {
  /** Read once per JVM — `sys.env` copies the whole environment map on
    * every call and handleInputRows is the per-(key, batch) hot path. */
  val Debug: Boolean = System.getenv("GRAFT_SESS_DEBUG") != null
}

class SessionProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvTs, SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  private val GapUs = 30L * 60L * 1000000L

  // OPEN sessions for the key, each (sess_start_us, last_us, n_events).
  // A LIST, not a single value: a session closes ONLY when the watermark
  // proves no event can extend it (handleExpiredTimer) — never eagerly
  // on in-batch gap detection. Eager closing diverges from batch
  // session_window semantics when an out-of-order event (legal within
  // the 15-min watermark delay, smaller than the 30-min gap) arrives in
  // a later micro-batch and BRIDGES two runs: the already-emitted
  // session could never be merged back. Until the watermark passes a
  // gap, both sides of it stay open here, so a bridging late event
  // merges them exactly as the batch computation would.
  @transient private var sessions: ListState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sessions = getHandle.getListState[(Long, Long, Long)]("sess",
      Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

  private def close(s: (Long, Long, Long), key: Long): SessionOut =
    SessionOut(key, s._1, s._2 + GapUs, s._3)

  /** One live timer per key, at the EARLIEST open horizon (materialize
    * the timer iterator before deleting — no mutation under it).
    * CEIL to milliseconds: timers and watermarks are ms, horizons are
    * µs — flooring could fire the timer while the horizon's tail
    * microseconds are still reachable by a legal event. */
  private def rearm(open: Seq[(Long, Long, Long)]): Unit = {
    getHandle.listTimers().toArray.foreach(t =>
      getHandle.deleteTimer(t.asInstanceOf[Long]))
    if (open.nonEmpty)
      getHandle.registerTimer((open.map(_._2).min + GapUs + 999L) / 1000L)
  }

  override def handleInputRows(key: Long, rows: Iterator[EvTs],
      timerValues: TimerValues): Iterator[SessionOut] = {
    // interval-merge open sessions with the new events (each a 1-event
    // mini-session): sort by start, fold adjacent pieces within the gap.
    // Handles any arrival order, including a late event bridging two
    // previously-separate open sessions.
    val existing = sessions.get().toSeq
    val incoming = rows.map(e => (e.ts_us, e.ts_us, 1L)).toSeq
    if (SessionProcessor.Debug)
      System.err.println(s"[sess] key=$key existing=$existing incoming=$incoming")
    val pieces = (existing ++ incoming).sortBy(p => (p._1, p._2))
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    pieces.foreach { p =>
      if (merged.nonEmpty && p._1 - merged.last._2 <= GapUs) {
        val c = merged.last
        merged(merged.length - 1) =
          (c._1, math.max(c._2, p._2), c._3 + p._3)
      } else merged += p
    }
    sessions.clear()
    merged.foreach(sessions.appendValue)
    rearm(merged.toSeq)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
    // the watermark proves which open sessions can no longer grow; emit
    // and evict those, keep the rest open and re-arm at their horizon.
    // STRICT µs comparison against wm*1000: an event at ts_us = wm*1000
    // is NOT late, and the merge is inclusive (p._1 - last <= GapUs), so
    // an on-time event at exactly horizon = wm*1000 could still extend
    // the session — only horizons strictly below the watermark close
    val wm = timerValues.getCurrentWatermarkInMs()
    val (closable, open) = sessions.get().toSeq
      .partition(s => s._2 + GapUs < wm * 1000L)
    sessions.clear()
    open.foreach(sessions.appendValue)
    rearm(open)
    closable.sortBy(_._1).iterator.map(close(_, key))
  }
}

/** ST6b processor: typed per-key running stats in a ValueState. */
class RunningStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvRow, UserStats] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)]("stats",
      Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EvRow],
      timerValues: TimerValues): Iterator[UserStats] = {
    val (n0, mx0) = if (state.exists()) state.get() else (0L, Double.MinValue)
    var n = n0
    var mx = mx0
    rows.foreach { r => n += 1; mx = math.max(mx, r.value) }
    state.update((n, mx))
    Iterator(UserStats(key, n, mx))
  }
}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import graft.{Det, Tables}
import graft.SessionConf.{AqeOff, scoped}

/** Structured Streaming operators — SURVEY §2.9 (ST1–ST7).
  *
  * Each contract query replays events.parquet through a real file-source
  * streaming query (Trigger.AvailableNow → memory sink) and returns the
  * sink table: the streaming engine genuinely runs — micro-batch
  * planning, state store, watermarks — and because the replay is a
  * finite prefix, the result equals the batch computation, which is what
  * the DuckDB oracle checks. Windowed aggregations use `complete` output
  * so windows still open at end-of-stream are emitted too.
  *
  * Watermark LATE-DATA semantics are observable in the two-batch staged
  * replay of [[st4LateDrop]] (oracle-checked) and additionally covered by
  * the MemoryStream out-of-order specs in StreamsSpec.
  *
  * Scale posture: state is keyed by (window × type) / user / event_id —
  * bounded by key cardinality, not stream length; watermarks bound the
  * dedup/session state at 100 TB/day rates.
  */
object Streams {

  /** Write `df` as the one parquet file `dir/<name>.parquet` — the
    * file a replay feeds as one micro-batch: a coalesce(1) write into a
    * `_tmp_<name>` subdirectory, whose single part file moves into
    * place before the subdirectory goes. `mtime` (epoch ms) stamps the
    * file when given: the file source replays files oldest first. */
  private def writeSingle(df: DataFrame, dir: Path, name: String,
      mtime: Option[Long] = None): Path = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // directory stream CLOSED afterwards (Files.list leaks a directory
    // handle per call otherwise — ADVICE r6)
    val part = scala.util.Using.resource(Files.list(tmp)) { st =>
      st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val dst = dir.resolve(s"$name.parquet")
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Tables.rm(tmp.toFile)
    mtime.foreach(t => Files.setLastModifiedTime(dst, FileTime.fromMillis(t)))
    dst
  }

  /** Stamp for the first of a replay's files: a minute ago, so the
    * later files' stamps, seconds apart, stay in the past. */
  private def replayEpoch(): Long = System.currentTimeMillis() - 60000L


  /** Stage the events file into a directory `copies` times (the file
    * streaming source reads directories; >1 copy simulates a duplicated
    * feed for the dedup operator). Staged files carry the NORMALIZED
    * events schema (ts as epoch-ns BIGINT — Tables.events), so
    * readStream.schema(Tables.events(..).schema) always matches the
    * bytes on disk regardless of which physical ts spelling the driver
    * corpus ships. Lives under the CROSS-PROCESS shared root
    * (fingerprint-named dir, atomic-rename publish — the round-9
    * shared-artifact tier): one Spark write per (corpus, copies) EVER,
    * not per process; every later Verify/Bench process replays from
    * the already-staged feed. The staged dir is read-only input to
    * every consumer, so sharing is race-free by the
    * existence-is-validity rule. */
  private def stage(spark: SparkSession, sfDir: String, copies: Int): String = {
    val home = Tables.stagedHome(s"stream$copies", sfDir, Seq("events"),
      s"c$copies")
    Tables.ensureStaged(home) { build =>
      val first = writeSingle(Tables.events(spark, sfDir), build.toPath,
        "events_0")
      (1 until copies).foreach { i =>
        Files.copy(first, build.toPath.resolve(s"events_$i.parquet"))
      }
    }
    home.getAbsolutePath
  }

  /** File-source event stream with `ts_us` (BIGINT µs) and `ts_t`
    * (TimestampType, µs precision) columns. */
  def eventStream(spark: SparkSession, sfDir: String, copies: Int = 1): DataFrame = {
    val schema = Tables.events(spark, sfDir).schema
    Tables.tune(spark).readStream.schema(schema)
      .parquet(stage(spark, sfDir, copies))
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  // Round-16 optimization A/B, REJECTED: raising the stream-stream
  // JOIN rows' replay partitions 2→4 looked good in a warm-JIT Time
  // JVM (st12 3.98→3.46 s) but in bench context (cold JVM, alternating
  // A/B runs) parts=4 measured equal-to-worse (st12 7.97→11.4 s run 1,
  // 8.34→8.80 run 2; st15 3.57→4.72/3.85→3.85), and the full-bench
  // normalized diff showed st14/15/16 regressing. The global default
  // of 2 stands.

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drop every memory-sink table this object registered. Each replay
    * registers a fresh graft_sink_N temp view holding its full result in
    * driver memory; a long-lived session that runs many replays should
    * call this once downstream consumers are done with the frames. */
  def dropSinks(spark: SparkSession): Unit =
    (1 to sinkCounter.get()).foreach { i =>
      spark.catalog.dropTempView(s"graft_sink_$i")
    }

  private val Width = "spark.sql.shuffle.partitions"
  private val RocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // foreachBatch bodies run under [[graft.SessionConf.AqeOff]], scoped
  // on the micro-batch's session CLONE (round 17, fixed per-job
  // costs): Spark disables AQE for the streaming plan itself, but each
  // body runs as a regular batch query on the clone, where AQE turns
  // every exchange into its own job — at replay batch sizes that is
  // pure per-job overhead (measured: st19 41 jobs warm, wall
  // 4.6 s for 3.5 s of task time). Results are unaffected — AQE
  // re-plans, never re-defines.

  /** Run a streaming frame to completion into a memory sink, return it.
    *
    * Shuffle partitions are dropped to 2 for the micro-batch run: each
    * stateful operator opens one state store per shuffle partition per
    * batch, so at local replay scale the per-partition store commit
    * dominates (measured: 4→2 partitions saves ~25–35% per replay;
    * 1 is no better than 2 — still multi-partition state coverage).
    * (On a real cluster this knob is sized to executor count; state
    * partitioning is fixed at first checkpoint, and every contract query
    * starts from a fresh checkpoint.)
    *
    * Both confs are a [[graft.SessionConf.scoped]] section around the
    * replay, so the session's own values come back however the replay
    * exits, and a replay nested in another section (st6b's provider)
    * restores that section's values. */
  def runToTable(spark: SparkSession, df: DataFrame, mode: OutputMode,
      partitions: Int = 2): DataFrame = {
    val name = s"graft_sink_${sinkCounter.incrementAndGet()}"
    // The trailing no-data micro-batch only advances the watermark to
    // evict state; none of the contract sinks depend on it (Complete /
    // Update re-emit on data batches; dedup and the inner join emit
    // eagerly; watermark-dependent emission is driven by sentinel
    // BATCHES — measured here: Trigger.AvailableNow stops at the last
    // data batch and runs no no-data batch even with the conf on, so
    // multi-stateful chains size their sentinel LADDER to the stage
    // count instead, one sentinel batch per stateful stage; see
    // [[stageOuterSplit]]). Skipping it saves a full state-store round
    // per query. A production continuous query would leave it on —
    // scoped so only these replays skip it.
    scoped(spark, Width -> partitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (sys.env.contains("GRAFT_STREAM_DEBUG")) {
        val ps = q.recentProgress
        System.err.println(s"[graft] $name: ${ps.length} batches, " +
          ps.map(p => s"${p.batchId}:${p.durationMs.asScala.map { case (k, v) => s"$k=$v" }.mkString(",")}").mkString(" | "))
      }
    }
    spark.table(name)
  }

  /** ST1 — tumbling 10-minute window: count + sum(value) per event type. */
  /** ST25 — streaming daily OHLC candles (x163's batch shape as a
    * live materialization): per day-window, open/close via
    * composite-key min_by/max_by on (ts, event_id) — deterministic
    * under timestamp ties — plus high/low/ticks/DECIMAL volume, in
    * Complete mode. The candle table every market-data feed serves
    * hot; min_by/max_by are partial-merge aggregates, so the streaming
    * state per window is one value pair, not the tick history. */
  def st25StreamOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .groupBy(window(col("ts_t"), "1 day"))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_ticks"),
        sum(col("value").cast(Det.Money)).cast("double").as("vsum"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("vsum"))
      .orderBy(col("win_start"))
  }

  def st1Tumbling(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts_t", "15 minutes")
      .groupBy(window(col("ts_t"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** ST2 — sliding window 10 min / 5 min: every event lands in 2 windows. */
  def st2Sliding(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts_t", "15 minutes")
      .groupBy(window(col("ts_t"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("win_start"), col("n"))
      .orderBy(col("win_start"))
  }

  /** ST3 — session windows: per-user sessions with a 30-minute gap. */
  def st3Session(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts_t", "15 minutes")
      .groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_start_us"))
  }

  /** Stage events as THREE single-file micro-batches for the late-data
    * replay: batch0 = the last hour of events (establishes the high
    * watermark), batch1 = the hour before it (a normal mid-stream
    * batch), batch2 = everything older — every row late beyond the
    * watermark. Three batches, not two, because of Spark's two-value
    * watermark (SPARK-40925): in batch N the LATE-EVENT filter uses the
    * eviction watermark of batch N-1, so the first batch whose inputs
    * are filtered against max(ts)−15min is batch2. Files get strictly
    * increasing mtimes 10 s apart so the file source's oldest-first
    * ordering is deterministic. The split is done in µs (ts div 1000)
    * so the Spark-side rule and the µs-reading DuckDB oracle classify
    * boundary rows identically. */
  private def stageLateSplit(spark: SparkSession, sfDir: String): String = {
    // the split is a pure function of events.parquet — staged once per
    // process, in scratch: the mtimes are relative to the staging time
    val home = Tables.scratchHome("stream_late", sfDir, Seq("events"), "h1h2")
    Tables.ensureStaged(home) { tmp =>
      val ev = Tables.events(spark, sfDir)
        .withColumn("ts_us", expr("ts div 1000"))
      // single-row driver-side max: the cut must be a literal before the
      // plan is built (same role as CC's convergence count — not a loop
      // over data)
      val maxUs = ev.agg(max(col("ts_us"))).collect()(0).getLong(0)
      val cut1 = maxUs - 3600L * 1000000L  // 1 hour
      val cut2 = maxUs - 7200L * 1000000L  // 2 hours
      val t0 = replayEpoch()
      Seq(col("ts_us") > cut1,
        col("ts_us") <= cut1 && col("ts_us") > cut2,
        col("ts_us") <= cut2).zipWithIndex.foreach { case (c, i) =>
        writeSingle(ev.filter(c).drop("ts_us"), tmp.toPath, s"batch$i",
          Some(t0 + i * 10000L))
      }
    }
    home.getAbsolutePath
  }

  /** ST4 — watermark late-data drop, observable and deterministic: the
    * three-file staged replay (see [[stageLateSplit]]) is processed as
    * three micro-batches (maxFilesPerTrigger=1, mtime order). Batch0
    * (the last hour of events) raises the eviction watermark to
    * max(ts)−15min; batch1 (the hour before) flows through normally and
    * its closed windows are emitted; by batch2 the late-event filter
    * ALSO stands at max(ts)−15min, so every batch2 row (all older than
    * two hours) is dropped on input — they never touch state and never
    * appear in the output. Append mode emits exactly the windows with
    * end ≤ watermark. The oracle reproduces the drop rule in batch SQL:
    * last-two-hours events only, windowed, windows ending at or before
    * max(ts)−15min. If late rows leaked into the result, or unfinalized
    * windows were emitted, the hash breaks. */
  def st4LateDrop(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageLateSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    val stream = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val agg = stream
      .withWatermark("ts_t", "15 minutes")
      .groupBy(window(col("ts_t"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    runToTable(spark, agg, OutputMode.Append())
      .select(unix_timestamp(col("window.start")).as("win_start"), col("n"))
      .orderBy(col("win_start"))
  }

  /** ST18 — UPDATE output mode: a running per-event_type (count, sum)
    * with NO window and NO watermark — the canonical update-mode shape
    * (append is illegal here: an unwindowed aggregate never finalizes;
    * complete re-emits everything). Each micro-batch of the three-way
    * time-split replay ([[stageLateSplit]], maxFilesPerTrigger=1) emits
    * ONLY the keys it changed, so the memory sink accumulates one
    * version row per (key, batch-containing-key). The contract output
    * collapses to the final version per key (max n — counts are
    * monotone) and reports `n_updates`, the number of emitted versions,
    * which the oracle reproduces exactly because the batch cuts are
    * deterministic functions of the data (segments at max(ts)−1h/−2h):
    * update-mode's emit-only-changed-keys semantics is hash-checked, not
    * just the final totals. Complete mode would emit every key every
    * batch and break the n_updates column. */
  def st18UpdateMode(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageLateSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    val stream = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // keyed by user_id, NOT event_type: most users miss at least one of
    // the three time segments (measured at every SF), so per-key version
    // counts range over 1..3 and complete mode (3 for everyone) would
    // hash-mismatch — the discriminating choice
    val agg = stream.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"))
    val versions = runToTable(spark, agg, OutputMode.Update())
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    val wCount = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    versions
      .withColumn("rn", row_number().over(wFinal))
      .withColumn("n_updates", count(lit(1)).over(wCount))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n"), col("sum_value"),
        col("n_updates"))
      .orderBy(col("user_id"))
  }

  /** ST5 — streaming dedup within watermark: the staged feed carries every
    * event twice; state drops the second sighting of each event_id. */
  def st5StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val dedup = eventStream(spark, sfDir, copies = 2)
      .withWatermark("ts_t", "15 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
    val counted = runToTable(spark, dedup, OutputMode.Append())
    counted.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Streaming event rows typed for the stateful operators. */
  private def evRows(spark: SparkSession, sfDir: String): Dataset[EvRow] = {
    import spark.implicits._
    eventStream(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value")).as[EvRow]
  }

  /** Run a per-user stateful stream to the update sink and collapse to
    * final state: the sink holds one row per user per micro-batch, and
    * the running stats are monotonic, so max() yields the final values
    * regardless of how AvailableNow split the replay. */
  private def collapseUpdates(spark: SparkSession,
      updated: Dataset[UserStats]): DataFrame =
    runToTable(spark, updated.toDF(), OutputMode.Update())
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("max_value")).as("max_value"))
      .orderBy(col("user_id"))

  /** ST6 — stateful per-key processing (flatMapGroupsWithState): running
    * per-user event count and max value, emitted each batch. */
  def st6Stateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val updated = evRows(spark, sfDir).groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, Double.MinValue))
          var n = prev.n_events
          var mx = prev.max_value
          rows.foreach { r => n += 1; mx = math.max(mx, r.value) }
          val next = UserStats(uid, n, mx)
          state.update(next)
          Iterator(next)
      }
    collapseUpdates(spark, updated)
  }

  /** ST6b — transformWithState (the Spark-4-native arbitrary-state API,
    * successor to flatMapGroupsWithState): same per-user running stats,
    * held in a typed ValueState on the RocksDB state store. */
  def st6bTransformWithState(spark: SparkSession, sfDir: String): DataFrame =
    // transformWithState requires the RocksDB provider, which is fixed
    // at stream planning from the SESSION conf (no per-writer option
    // exists), so it is scoped around the replay; changelog
    // checkpointing ships per-batch deltas instead of a full RocksDB
    // snapshot upload per commit — the production setting for frequent
    // small batches
    scoped(spark, RocksDbProvider,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true") {
      import spark.implicits._
      val updated = evRows(spark, sfDir).groupByKey(_.user_id)
        .transformWithState(new RunningStatsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      collapseUpdates(spark, updated)
    }

  /** ST7 — stream-static join: streaming events against the static
    * customer dimension, aggregated per market segment. No pinned
    * broadcast hint: customer grows with SF, so the planner (AQE for
    * the static side) must pick the strategy from stats — at sf0.1 it
    * still broadcasts, at 100x it falls back to a shuffled join rather
    * than OOMing on a forced build side. */
  def st7StreamStatic(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventStream(spark, sfDir)
      .join(cust, col("user_id") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"))
    runToTable(spark, joined, OutputMode.Complete())
      .orderBy(col("c_mktsegment"))
  }

  /** ST8 — stream-stream inner join with an event-time bound: each click
    * joined to the same user's purchases within the following hour.
    * Watermarks on both sides + the time-range condition bound the join
    * state (buffered rows expire once the watermark passes), which is
    * what keeps this runnable on an unbounded feed. Inner-join matches
    * emit eagerly, so the finite replay yields the full batch result. */
  def st8StreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    // the join runs 4 state stores per shuffle partition per batch; at
    // replay scale the store commits dominate, so keep partitions low
    runToTable(spark, joined, OutputMode.Append(), partitions = 2)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Stage events + two sentinel files for the OUTER join replay: file0
    * is the whole real feed, file1/file2 each carry one click and one
    * purchase for user −1 at max(ts)+3h and +4h. Outer-join null rows
    * only emit when the watermark proves no future match can arrive, and
    * the global watermark is the MIN across both sides' watermark nodes
    * (each fed post-filter), so the sentinels carry BOTH event types —
    * a click-only sentinel would leave the purchase-side watermark
    * pinned at the real feed's end and the nulls unemitted. Two sentinel
    * batches, not one, because eviction in batch N uses the watermark
    * computed after batch N−1 (SPARK-40925): the batch that ingests
    * sentinel2 evicts with sentinel1's watermark = max(ts)+2h, which
    * clears every real click's 1-hour join window deterministically —
    * no dependence on trailing no-data batches (measured: AvailableNow
    * runs NO trailing no-data batch even when the conf is enabled, so
    * the sentinel ladder is the only deterministic flush).
    *
    * PUSHDOWN TRAP, learned on st17: never filter sentinel rows INSIDE
    * the streaming query — any deterministic predicate (e.g.
    * `user_id >= 0`) pushes down THROUGH the watermark node to the
    * parquet scan, the sentinel rows then never reach the watermark
    * node, and the watermark silently freezes at the real feed's max.
    * Sentinels must flow into the query; their output rows are dropped
    * post-sink, batch-side (st12/st13/st17 all do this). */
  private def stageOuterSplit(spark: SparkSession, sfDir: String): String = {
    val home = Tables.scratchHome("stream_outer", sfDir, Seq("events"),
      "s3h4h")
    Tables.ensureStaged(home) { tmp =>
      val ev = Tables.events(spark, sfDir)
      val maxNs = ev.agg(max(col("ts"))).collect()(0).getLong(0)
      def sentinel(id: Long, hours: Long): DataFrame = {
        import spark.implicits._
        val ts = maxNs + hours * 3600L * 1000000000L
        Seq((id, ts, -1L, "click", 0.0, "{}"),
          (id - 1, ts, -1L, "purchase", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      }
      val t0 = replayEpoch()
      writeSingle(ev, tmp.toPath, "batch0", Some(t0))
      writeSingle(sentinel(-1L, 3L), tmp.toPath, "sentinel1", Some(t0 + 10000L))
      writeSingle(sentinel(-3L, 4L), tmp.toPath, "sentinel2", Some(t0 + 20000L))
    }
    home.getAbsolutePath
  }

  /** ST12 — stream-stream LEFT OUTER join with event-time bounds: every
    * click joined to the same user's purchases within the following
    * hour, and clicks with NO such purchase emitted with nulls once the
    * watermark proves the window closed — the semantics inner joins
    * (ST8) sidestep, exercised deterministically via the staged sentinel
    * replay ([[stageOuterSplit]]). State stays bounded exactly as in
    * ST8; the null-emission adds no state, only an eviction-time emit. */
  def st12StreamStreamOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    def src = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    runToTable(spark, joined, OutputMode.Append())
      .filter(col("c_user") =!= -1L)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(col("value")).as("n_pairs"),
        (count(lit(1)) - count(col("value"))).as("n_unmatched"),
        coalesce(sum(col("value").cast(Det.Money)).cast("double"), lit(0.0))
          .as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** ST14 — stream-stream FULL OUTER join: st12's click⋈purchase window
    * with BOTH unmatched sides emitted once the watermark proves their
    * windows closed — unmatched clicks (no purchase followed within the
    * hour) AND unmatched purchases (no click preceded within the hour).
    * Same staged sentinel replay as st12 advances both sides' watermarks
    * deterministically; state is bounded exactly as in st8/st12. */
  def st14StreamStreamFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    def src = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
    runToTable(spark, joined, OutputMode.Append())
      .filter(coalesce(col("c_user"), col("p_user")) =!= -1L)
      .groupBy(coalesce(col("c_user"), col("p_user")).as("user_id"))
      .agg(
        sum(when(col("c_ts").isNotNull && col("p_ts").isNotNull, 1L)
          .otherwise(0L)).as("n_pairs"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L))
          .as("n_unm_clicks"),
        sum(when(col("c_ts").isNull, 1L).otherwise(0L))
          .as("n_unm_purchases"),
        coalesce(sum(when(col("c_ts").isNotNull,
          col("value").cast(Det.Money))).cast("double"), lit(0.0))
          .as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** ST15 — stream-stream LEFT SEMI join: clicks that HAVE a purchase
    * from the same user within the following hour, emitted once (first
    * match) and never re-emitted — the streaming "did this action
    * convert?" filter, completing the inner (st8) / left-outer (st12) /
    * full-outer (st14) join family. Matches emit eagerly like inner
    * joins, so the finite replay yields the full batch result without
    * depending on the sentinels; the staged replay is reused anyway so
    * the watermark provably drains both sides' state (each side is
    * range-bounded exactly as in st8). The sentinel user's self-matching
    * click is filtered post-sink. */
  def st15StreamStreamSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    def src = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_semi")
    runToTable(spark, joined, OutputMode.Append())
      .filter(col("c_user") =!= -1L)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_converted_clicks"),
        min(unix_micros(col("c_ts"))).as("first_click_us"))
      .orderBy(col("user_id"))
  }

  /** ST16 — stream-stream LEFT ANTI join: clicks with NO purchase from
    * the same user within the following hour — the abandoned-cart
    * query, completing the inner (st8) / left-outer (st12) / full-outer
    * (st14) / left-semi (st15) stream-stream join family. The subtle
    * part is eviction semantics: an anti row can only emit once the
    * watermark PROVES no matching purchase can still arrive (the
    * purchase-side watermark has passed click_ts + 1 hour), so the
    * result materializes exactly at state eviction — nothing is ever
    * emitted eagerly and later retracted. Spark's planner rejects a
    * native stream-stream LeftAnti, so the operator is the canonical
    * composition with IDENTICAL eviction semantics: the left-outer join
    * (st12's operator — unmatched rows emit with nulls exactly when the
    * watermark closes their window) filtered to the null-matched rows.
    * The staged sentinel replay ([[stageOuterSplit]]) advances both
    * watermarks deterministically past every real click's horizon, so
    * the full anti set emits and equals the batch NOT EXISTS oracle. */
  def st16StreamStreamAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    def src = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    runToTable(spark, joined, OutputMode.Append())
      .filter(col("p_ts").isNull) // the anti set: emitted at eviction only
      .filter(col("c_user") =!= -1L)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_abandoned_clicks"),
        min(unix_micros(col("c_ts"))).as("first_abandoned_us"))
      .orderBy(col("user_id"))
  }

  /** ST17 — CHAINED stateful aggregations: a 10-minute tumbling count
    * per event type feeding an hourly re-aggregation in ONE streaming
    * query — two stateful operators back to back (multiple-stateful-
    * operator support, SPARK-40925), the streaming form of a rollup
    * pipeline that would otherwise need an intermediate topic/table.
    * The second `window()` is applied to the FIRST aggregation's window
    * column: Spark assigns each finalized 10-minute window to the hour
    * containing its (end − 1µs), so aligned sub-windows roll up into
    * exactly the hour that contains them.
    *
    * Emission discipline (both operators append-mode): a 10-minute
    * window reaches the hourly operator only once the watermark
    * finalizes it, and the hour emits only once the watermark passes
    * the hour end. Batch N's late-input filter uses batch N−1's
    * watermark while eviction uses batch N's (SPARK-40925), so every
    * real sub-window reaches the hourly operator exactly once, never
    * late — the last real sub-window finalizes in the batch ingesting
    * sentinel1 and its hour closes in the SAME batch (within a batch,
    * a downstream stateful operator sees the upstream's emissions and
    * evicts with the same batch watermark), so the standard two-
    * sentinel replay ([[stageOuterSplit]]) flushes the whole chain.
    * The sentinel rows must flow INTO the aggregation (filtering them
    * in-query would push the predicate down to the scan and freeze the
    * watermark — see the stageOuterSplit scaladoc); their own windows
    * sit above every real hour, so the batch-side cut below drops the
    * one sentinel hour the watermark manages to close. `n_subwindows`
    * additionally pins how many distinct non-empty 10-minute windows
    * fed each hour. */
  def st17ChainedAggs(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    val stream = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val tenMin = stream
      .withWatermark("ts_t", "15 minutes")
      .groupBy(window(col("ts_t"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val hourly = tenMin
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_subwindows"))
    // the last REAL hour start, in seconds — single-row driver-side max,
    // the same role as stageOuterSplit's cut literal
    val maxUs = Tables.eventsUs(spark, sfDir)
      .agg(max(col("ts"))).collect()(0).getLong(0)
    val cutSec = (maxUs / 3600000000L) * 3600L
    runToTable(spark, hourly, OutputMode.Append())
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n_events"), col("n_subwindows"))
      .filter(col("hour_start") <= cutSec) // drop closed sentinel hours
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** ST13 — timer-driven sessionization via transformWithState +
    * event-time timers ([[SessionProcessor]]): EVERY session emits from
    * handleExpiredTimer once the watermark passes its horizon — input
    * processing only merges events into the open-session state, so
    * out-of-order events within the watermark delay still merge exactly
    * as batch session_window would. The two-sentinel staged replay
    * ([[stageOuterSplit]]) advances the watermark deterministically past
    * every real session's horizon, so the full session set equals the
    * batch computation (ST3's oracle, minus the sentinel user, whose own
    * sessions the watermark never closes). */
  def st13TimerSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    // the provider is session conf, scoped as in st6b
    scoped(spark, RocksDbProvider) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.TimeMode
      val schema = Tables.events(spark, sfDir).schema
      val stream = Tables.tune(spark).readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .withWatermark("ts_t", "15 minutes")
        .select(col("user_id"), col("ts_us"), col("event_id")).as[EvTs]
      val sessions = stream.groupByKey(_.user_id)
        .transformWithState(new SessionProcessor,
          TimeMode.EventTime(), OutputMode.Append())
      runToTable(spark, sessions.toDF(), OutputMode.Append())
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start_us"))
    }
  }

  /** ST9 — streaming file (parquet) sink: filtered purchases streamed to
    * a partitioned parquet directory with checkpointing (exactly-once via
    * the sink's transaction log), read back and aggregated. The batch
    * read proves the committed files are complete and consistent. */
  def st9FileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = Tables.scratchDir("st9", sfDir)
    // fresh output per run: the file sink's log would otherwise treat the
    // prior run's files as already-committed and skip the replay
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(outDir), true)
    scoped(spark, Width -> "8") {
      val q = eventStream(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"), col("ts_us"))
        .writeStream.format("parquet")
        .option("path", s"$outDir/data")
        .option("checkpointLocation", s"$outDir/chk")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(s"$outDir/data")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** ST10 — foreachBatch sink: per-micro-batch custom write logic (the
    * escape hatch for sinks Spark lacks — JDBC upserts, multi-table
    * fan-out). Each batch appends to a parquet dir tagged with its batch
    * id; the read-back aggregate equals the batch computation. */
  def st10ForeachBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Tables.scratchDir("st10", sfDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    scoped(spark, Width -> "8") {
      val q = eventStream(spark, sfDir)
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            batch.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(dir)
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(dir)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        sum(col("value").cast(Det.Money)).cast("double").as("sum_value"))
  }

  /** ST11 — custom DataSource V2 MICRO-BATCH source: the graft-seq
    * connector's streaming face ([[graft.sources.SeqMicroBatchStream]]).
    * Admission control caps each trigger at rowsPerBatch ids, so the
    * AvailableNow replay drains 100k ids in 5 deterministic batches; the
    * Complete-mode aggregate then equals the batch aggregate of the same
    * range, which is what the DuckDB range() oracle recomputes. */
  def st11SeqStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = spark.readStream.format("graft-seq")
      .option("start", 0).option("end", 100000)
      .option("rowsPerBatch", 20000).load()
    val agg = stream.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("val").cast(Det.Money)).cast("double").as("sum_val"))
    runToTable(spark, agg, OutputMode.Complete())
      .orderBy(col("bucket"))
  }

  /** ST19 — streaming incremental dedup: the production ingest loop
    * assembled from shipped parts (VERDICT r6 #4). The corpus prefix
    * index ([[graft.api.TextPipeline.buildPrefixIndex]] over every
    * document OUTSIDE the probe shard — x55's corpus, threshold 0.5)
    * is built ONCE per stream start; the probe shard is staged as two
    * parquet files and replayed as two AvailableNow micro-batches
    * (maxFilesPerTrigger=1); foreachBatch probes each batch against
    * the index ([[graft.api.TextPipeline.probePrefixIndex]]) and
    * appends ONLY the survivors — batch docs with no corpus near-dup
    * above the threshold. Because every probe doc is judged against
    * the persisted index alone, the union of per-batch survivors
    * equals the one-shot batch result exactly (StreamsSpec pins the
    * equivalence and that two batches really ran); the oracle
    * recomputes survivors exhaustively. At 100 TB this is the nightly
    * crawl-ingest shape: index built once, each arriving shard probed
    * and filtered in stream time, corpus never self-joined. */
  /** Stage the probe shard of documents (doc_id % 10 = 3) as two
    * deterministic parquet files — the replay feed st19/st20 consume
    * one file per micro-batch. Staged once per (process, corpus) in a
    * fingerprint-named [[Tables.scratchHome]]. */
  private def stageProbeDocs(spark: SparkSession, sfDir: String): String =
    stageTwoBatches(sfDir, "stream_docs", "documents", "docs",
      Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 3),
      "doc_id")

  /** Stage the x173 clone shard (the re-encoded probe vectors) as two
    * deterministic parquet files for micro-batch replay — the vector
    * analog of [[stageProbeDocs]], staged the same way. */
  private def stageProbeVecs(spark: SparkSession, sfDir: String): String =
    stageTwoBatches(sfDir, "stream_vecs", "embeddings", "vecs",
      graft.operators.EmbedOps.cloneCorpus(spark, sfDir)
        .filter(col("vec_id") >= graft.operators.EmbedOps.CloneOffset),
      "vec_id")

  /** `probe` split by `(id div 10) % 2` into `<name>_0` and `<name>_1`,
    * one second apart in mtime, in a scratch home keyed by `src`. */
  private def stageTwoBatches(sfDir: String, tag: String, src: String,
      name: String, probe: => DataFrame, id: String): String = {
    val home = Tables.scratchHome(tag, sfDir, Seq(src), "div10mod2")
    Tables.ensureStaged(home) { tmp =>
      val shard = probe
      val t0 = replayEpoch()
      (0 to 1).foreach { i =>
        writeSingle(shard.filter(expr(s"($id div 10) % 2") === i),
          tmp.toPath, s"${name}_$i", Some(t0 + i * 1000L))
      }
    }
    home.getAbsolutePath
  }

  /** ST26 — STREAMING SemDeDup (x173's streaming face, closing the
    * semantic-curation ladder's stream rung; st19 is the text analog):
    * the semantic index — k-means centroids trained on the original
    * corpus ([[graft.operators.Clustering.kmeansCentroids]], the k×dims
    * driver-side model a streaming job broadcasts) plus the clustered
    * corpus — is built ONCE at stream start; the clone shard replays
    * as two AvailableNow micro-batches (maxFilesPerTrigger=1), and
    * foreachBatch assigns each batch to the FIXED centroids (one
    * lattice-argmax pass, no retraining) then probes only its assigned
    * clusters' band index
    * ([[graft.api.VectorPipeline.groupedCosinePairsAgainst]]),
    * appending the survivors — probe vectors with no same-cluster
    * corpus near-dup at t = 0.8. Because every probe is judged against
    * the fixed index alone, the union of per-batch survivors equals
    * the one-shot x173 complement exactly (spec-pinned). At 100 TB
    * this is the embedding-ingest nightly: model + index persisted,
    * each arriving shard filtered in stream time, corpus never
    * self-joined. */
  def st26StreamSemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Clustering
    val s = Tables.tune(spark)
    val emb = graft.Checkpoints.cut(
      Tables.embeddings(s, sfDir)
        .select(col("vec_id"), col("embedding")))
    val cents = Clustering.kmeansCentroids(emb, "vec_id", "embedding", 8, 3)
    val corpusC = emb.join(
        Clustering.assignToCentroids(emb, "vec_id", "embedding", cents)
          .withColumnRenamed("vid", "vec_id"), "vec_id")
      .localCheckpoint(true)
    val dir = stageProbeVecs(spark, sfDir)
    val outDir = Tables.scratchDir("st26_out", sfDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(outDir), true)
    val schema = Tables.embeddings(s, sfDir)
      .select(col("vec_id"), col("embedding")).schema
    scoped(spark, Width -> "8") {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            val batchC = batch.join(
              Clustering.assignToCentroids(batch, "vec_id", "embedding", cents)
                .withColumnRenamed("vid", "vec_id"), "vec_id")
            val matched = graft.api.VectorPipeline.groupedCosinePairsAgainst(
                batchC, corpusC, "vec_id", "embedding", "cluster", 0.8)
              .select(col("id_new")).distinct()
            batch.select(col("vec_id"))
              .join(matched, col("vec_id") === col("id_new"), "left_anti")
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(outDir)
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(outDir)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  def st19StreamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.api.TextPipeline
    val s = Tables.tune(spark)
    val sh = graft.operators.Dedup.shingleHashSet(spark, sfDir)
    val idx = TextPipeline.buildPrefixIndex(
      sh.filter(col("doc_id") % 10 =!= 3), 0.5)
    val dir = Paths.get(stageProbeDocs(spark, sfDir))
    val outDir = Tables.scratchDir("st19_out", sfDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(outDir), true)
    val schema = Tables.documents(s, sfDir).schema
    scoped(spark, Width -> "8") {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            val pSh = TextPipeline.shingleHashes(batch, "doc_id", "text", 3)
            val dropped = TextPipeline.probePrefixIndex(idx, pSh)
              .select(col("doc_new")).distinct()
            batch.select(col("doc_id"))
              .join(dropped, col("doc_id") === col("doc_new"), "left_anti")
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(outDir)
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(outDir)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** ST20 — streaming observed metrics (f22's streaming face): quality
    * counters ride the micro-batch stream as `Dataset.observe`
    * expressions — per batch, CollectMetrics reports (row count, char
    * total) through StreamingQueryProgress.observedMetrics with ZERO
    * extra scans while the real consumer (a per-lang grouped aggregate)
    * drives the pass. The production shape: a streaming ingest gate
    * alerts from the progress feed instead of running audit queries.
    * The contract row sums the per-batch metrics across the replay's
    * two file-batches and emits them with the consumer's group count —
    * observed-summed ≡ batch-recomputed is exactly what the oracle
    * checks. */
  def st20StreamingObserve(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = stageProbeDocs(spark, sfDir)
    val schema = Tables.documents(s, sfDir).schema
    val name = s"graft_st20_sink_${sinkCounter.incrementAndGet()}"
    val q = scoped(spark, Width -> "2") {
      val run = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .observe("graft_gate",
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow()).start()
      run.awaitTermination()
      run
    }
    val gate = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_gate")))
    val dataBatches = gate.filter(_.getLong(0) > 0L)
    val nRows = dataBatches.map(_.getLong(0)).sum
    val sumChars = dataBatches.map(_.getLong(1)).sum
    val nLangs = spark.table(name).count()
    import s.implicits._
    Seq((nRows, sumChars, dataBatches.size.toLong, nLangs))
      .toDF("n_rows", "sum_chars", "n_batches", "n_langs")
  }

  /** ST22 — mid-stream dimension refresh: stream-static enrichment
    * (st7) where the dimension CHANGES BETWEEN MICRO-BATCHES — the
    * slowly-changing-enrichment reality a long-running ingest lives
    * with. foreachBatch resolves the dim VERSION AT BATCH TIME (v1 for
    * batch 0, v2 for batch 1 — in production, a re-read of the dim
    * path), so rows are labeled with the mapping current when they
    * arrived, not a frozen snapshot. The staged two-file replay makes
    * batch membership a pure function of the data
    * ((doc_id div 10) % 2 — stageProbeDocs' split), so the oracle
    * recomputes exactly which rows saw which dim version. The payoff
    * claim: the same lang maps to DIFFERENT labels across the two
    * batches — frozen-snapshot enrichment could never produce that. */
  def st22StreamDimRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = stageProbeDocs(spark, sfDir)
    val outDir = Tables.scratchDir("st22_out", sfDir)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(outDir), true)
    val schema = Tables.documents(s, sfDir).schema
    import s.implicits._
    def dim(version: Int): DataFrame =
      Seq("en", "de", "fr", "es", "zh").map(l => (l, s"${l}_v$version"))
        .toDF("lang", "label")
    scoped(spark, Width -> "4") {
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            // production: re-read the dim path here; the replay pins the
            // version to the batch id so the oracle can reproduce it
            batch.select(col("doc_id"), col("lang"))
              .join(broadcast(dim(if (batchId == 0L) 1 else 2)), "lang")
              .write.mode("append").parquet(outDir)
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(outDir)
      .groupBy(col("lang"), col("label"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"), col("label"))
  }

  /** ST21 — streaming UPSERT into a persisted serving table: the
    * read-modify-write merge loop every serving layer without a
    * MERGE-capable sink runs (st10's foreachBatch escape hatch composed
    * with x15's latest-by-key semantics). Each micro-batch merges into
    * the parquet serving table: union(existing, batch) → one row per
    * user under the (ts, event_id) total order → atomic swap. The
    * replay feeds the SAME event file twice (maxFilesPerTrigger=1 → two
    * micro-batches), so the row also proves the upsert is IDEMPOTENT —
    * a duplicated feed cannot corrupt the serving table, which is the
    * property that makes at-least-once delivery safe. Final table ≡
    * the batch latest-by-key, which the oracle recomputes.
    *
    * Scale shape: the per-batch rewrite is bounded by KEY CARDINALITY,
    * never stream length; at 100 TB the same loop partitions the
    * serving table (s14's dynamic overwrite) or targets a MERGE sink
    * (x30's CDC apply) — the merge plan per batch is identical. */
  def st21StreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val serveDir = Tables.scratchDir("st21_serve", sfDir)
    val dataDir = s"$serveDir/data"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(serveDir), true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("last_ts_us").desc, col("last_event_id").desc)
    scoped(spark, Width -> "8") {
      val schema = Tables.events(s, sfDir).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage(spark, sfDir, 2))
        .select(col("user_id"), expr("ts div 1000").as("last_ts_us"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            val existing =
              if (fs.exists(new org.apache.hadoop.fs.Path(dataDir)))
                s.read.parquet(dataDir)
              else batch.limit(0)
            existing.unionByName(batch)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
              .localCheckpoint(true) // materialize BEFORE overwriting source
              .write.mode("overwrite").parquet(dataDir)
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Tables.tune(spark).read.parquet(dataDir).orderBy(col("user_id"))
  }

  /** ST27 — TRANSACTIONAL streaming upsert (round 12): st21's serving
    * upsert re-expressed against a graft CATALOG table — each
    * micro-batch reduces to its per-user latest rows and MERGEs them
    * under [[graft.sources.GraftTxn.retryOnConflict]] (the commit-lock
    * + read-snapshot-validation protocol), with an order-independent
    * newer-than matched condition. Three properties st21's
    * read-union-overwrite loop can't give: (a) idempotence through
    * MERGE semantics — the staged replay duplicates the whole feed and
    * the second batch no-ops through the matched-but-not-newer arm
    * instead of relying on recompute; (b) only matched files rewrite
    * per batch (group-grain copy-on-write), never the whole serving
    * table; (c) a concurrent reader sees a committed snapshot at every
    * instant, and a concurrent writer conflicts and retries instead of
    * interleaving. Oracle: the same latest-event-per-user recompute as
    * st21 — the serving mechanism changes, the contract doesn't. */
  def st27StreamTxnUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    // a DEDICATED catalog name: catalog instances are cached per
    // session at first use, and foreachBatch's session CLONE builds
    // its own instance from the CURRENT conf — under the shared
    // "graft" name (whose base another contract row may have already
    // pinned) the outer session's CREATE and the clone's MERGE would
    // resolve different base dirs (the full-session Verify run caught
    // exactly that)
    s.conf.set("spark.sql.catalog.graft27",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft27.base",
      Tables.scratchDir("st27_cat", sfDir))
    s.sql("DROP TABLE IF EXISTS graft27.st27_serve")
    s.sql("CREATE TABLE graft27.st27_serve (user_id BIGINT, " +
      "last_ts_us BIGINT, last_event_id BIGINT, last_type STRING, " +
      "last_value DOUBLE)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("last_ts_us").desc, col("last_event_id").desc)
    try scoped(spark, Width -> "8") {
      val schema = Tables.events(s, sfDir).schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage(spark, sfDir, 2))
        .select(col("user_id"), expr("ts div 1000").as("last_ts_us"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          scoped(batch.sparkSession, AqeOff: _*) {
            // the temp view lives on the micro-batch's session CLONE —
            // the MERGE must run there too or it can't resolve the view
            val bs = batch.sparkSession
            batch.withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
              .createOrReplaceTempView("st27_batch")
            graft.sources.GraftTxn.retryOnConflict() {
              bs.sql("MERGE INTO graft27.st27_serve t USING st27_batch b " +
                "ON t.user_id = b.user_id " +
                "WHEN MATCHED AND (b.last_ts_us > t.last_ts_us OR " +
                "(b.last_ts_us = t.last_ts_us AND " +
                "b.last_event_id > t.last_event_id)) THEN UPDATE SET * " +
                "WHEN NOT MATCHED THEN INSERT *").collect(): Unit
            }
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = s.table("graft27.st27_serve").orderBy(col("user_id"))
        .localCheckpoint(true)
      out
    } finally s.sql("DROP TABLE IF EXISTS graft27.st27_serve"): Unit
  }

  /** ST23 — checkpoint recovery (exactly-once resume, VERDICT r7 #5):
    * a stateful grouped aggregate runs over HALF the events through a
    * file-source query with an explicit checkpoint, terminates, and is
    * RESTARTED from the SAME checkpoint after the second half lands in
    * the source directory. The contract row is the restarted query's
    * complete-mode state: it equals the uninterrupted batch aggregate
    * over ALL events only if (a) the offset log resumed past the
    * already-committed file instead of re-reading it (re-read would
    * double-count half A) and (b) the state store recovered half A's
    * partials (loss would under-count). `recovered_ok` additionally
    * pins the resume shape as data: run 2's input-row count must be
    * EXACTLY half B's rows — the exactly-once guarantee stated as a
    * visible claim, not an inference. Fresh checkpoint per call (a
    * recovery test against a stale checkpoint proves nothing).
    *
    * At 100 TB/day this is THE production ingest property: a restarted
    * job must neither re-bill committed files nor forget its state;
    * the same offset-log + state-store machinery exercised here is
    * what provides it on a real cluster. */
  def st23CheckpointRecovery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val base = Paths.get(Tables.scratchDir("st23_recover", sfDir))
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(base.toString), true)
    val srcDir = base.resolve("src")
    Files.createDirectories(srcDir)
    val chk = base.resolve("chk").toString
    val ev = Tables.events(spark, sfDir)
    val schema = ev.schema
    // stage one half of the feed as a single parquet file in srcDir
    def stageHalf(even: Boolean, name: String): Long = {
      val half = ev.filter(col("event_id") % 2 === (if (even) 0 else 1))
      val n = half.count()
      writeSingle(half, srcDir, name)
      n
    }
    // one replay leg: same source dir, same checkpoint, fresh sink
    def leg(): (DataFrame, Long) = {
      val name = s"graft_sink_${sinkCounter.incrementAndGet()}"
      val q = Tables.tune(spark).readStream.schema(schema)
        .parquet(srcDir.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(graft.Det.Money)).as("sv"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (spark.table(name), q.recentProgress.map(_.numInputRows).sum)
    }
    scoped(spark, Width -> "2") {
      val nA = stageHalf(even = true, "half_a")
      val (_, rows1) = leg()
      val nB = stageHalf(even = false, "half_b")
      val (t2, rows2) = leg()
      t2.select(col("event_type"), col("n"),
          col("sv").cast("double").as("sum_value"))
        .withColumn("recovered_ok",
          lit(nA > 0 && nB > 0 && rows1 == nA && rows2 == nB))
        .orderBy(col("event_type"))
    }
  }

  /** ST24 — stream-stream JOIN chained into a windowed AGGREGATE (the
    * one stateful composition the suite lacked: st17 chains agg→agg;
    * this chains join-state→agg-state): per-user click→purchase pairs
    * within one hour (st8's join), rolled up to hourly pair counts and
    * decimal revenue in APPEND mode. The watermark propagates THROUGH
    * the join (the joined rows carry `p_ts`'s watermark), so window
    * closure downstream is driven by the same two-sentinel ladder that
    * flushes the join state ([[stageOuterSplit]]'s design: eviction in
    * batch N uses batch N−1's watermark). Sentinel hours close past the
    * real feed and are dropped batch-side post-sink (the st17 rule:
    * never filter sentinels inside the streaming query). */
  def st24JoinThenAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageOuterSplit(spark, sfDir)
    val schema = Tables.events(spark, sfDir).schema
    def src = Tables.tune(spark).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_t").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_t").as("p_ts"),
        col("value"))
      .withWatermark("p_ts", "1 hour")
    val hourly = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(window(col("p_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast(graft.Det.Money)).as("rev"))
    val maxUs = Tables.eventsUs(spark, sfDir)
      .agg(max(col("ts"))).collect()(0).getLong(0)
    val cutSec = (maxUs / 3600000000L) * 3600L
    runToTable(spark, hourly, OutputMode.Append())
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("n_pairs"), col("rev").cast("double").as("revenue"))
      .filter(col("hour_start") <= cutSec)
      .orderBy(col("hour_start"))
  }

  /** ST28 — STREAMING CDC FEED over graft table history (round 13,
    * VERDICT r12 #2 — the changeDataFeed analog): the table's commit
    * log becomes a readStream via the `graft-cdc` DSv2 source
    * ([[graft.sources.GraftChangeFeed]] — offsets ARE versions, one
    * micro-batch per commit), and each micro-batch materializes that
    * commit's row-level changes with
    * [[graft.operators.Dml.versionDiff]] of consecutive versions
    * inside foreachBatch (the feed is O(commits); each diff is a full
    * distributed job over two snapshots — the scale-correct split).
    * History: CTAS v1 → UPDATE v2 → DELETE v3 → MERGE v4
    * (update + insert arms). Claims: per-(version, change-class) key
    * counts/sums of the streamed diffs, plus `compose_ok` — the
    * latest-event-per-key NET of the streamed batches equals the
    * BATCH versionDiff(v1, v4), i.e. the streamed concatenation
    * composes to the end-to-end diff (the VERDICT done-criterion). */
  def st28StreamChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    s.conf.set("spark.sql.catalog.graft28",
      classOf[graft.sources.GraftCatalog].getName)
    val base = Tables.scratchDir("st28_cat", sfDir)
    s.conf.set("spark.sql.catalog.graft28.base", base)
    s.sql("DROP TABLE IF EXISTS graft28.nation_cdc")
    Tables.nation(s, sfDir).select(col("n_nationkey"))
      .createOrReplaceTempView("nation_src28")
    s.sql("CREATE TABLE graft28.nation_cdc AS " +
      "SELECT n_nationkey AS k, CAST(n_nationkey * 10 AS BIGINT) AS v " +
      "FROM nation_src28") // v1
    try {
      s.sql("UPDATE graft28.nation_cdc SET v = v + 1000 WHERE k % 5 = 0") // 2
      s.sql("DELETE FROM graft28.nation_cdc WHERE k % 3 = 0") // 3
      s.sql("MERGE INTO graft28.nation_cdc t USING (" +
        "SELECT k, CAST(k * 10 AS BIGINT) AS v FROM (" +
        "SELECT 900 AS k UNION ALL SELECT 901 " +
        "UNION ALL SELECT n_nationkey FROM nation_src28 " +
        "WHERE n_nationkey % 7 = 1 AND n_nationkey % 3 <> 0)) m " +
        "ON t.k = m.k " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + 7 " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (m.k, m.v)") // 4
      val dir = new java.io.File(s"$base/nation_cdc")
      val outDir = Tables.scratchDir("st28_out", sfDir)
      org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(outDir), true)
      scoped(spark, Width -> "4") {
        val q = s.readStream.format("graft-cdc")
          .option("tableDir", dir.getAbsolutePath)
          .option("startVersion", "1") // first emitted batch diffs v1→v2
          .option("maxVersionsPerBatch", "1")
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            scoped(batch.sparkSession, AqeOff: _*) {
              val bs = batch.sparkSession // catalog resolves on the clone
              batch.select(col("version")).collect().foreach { row =>
                val v = row.getLong(0)
                graft.operators.Dml
                  .versionDiff(bs, "graft28.nation_cdc", v - 1, v, Seq("k"))
                  .filter(col("change_type") =!= "unchanged")
                  .withColumn("version", lit(v))
                  .write.mode("append").parquet(outDir)
              }
            }
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val streamed = Tables.tune(spark).read.parquet(outDir)
      // compose check: NET of the streamed batches (latest event per
      // key — sound here: no key is deleted-then-reinserted or reverted
      // to its original value in this history) == batch versionDiff
      // over the whole range
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("version").desc)
      val net = streamed
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k"), col("change_type")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      val full = graft.operators.Dml
        .versionDiff(s, "graft28.nation_cdc", 1L, 4L, Seq("k"))
        .filter(col("change_type") =!= "unchanged").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      val composeOk = net == full && net.nonEmpty
      streamed.groupBy(col("version"), col("change_type"))
        .agg(count(lit(1)).as("n_keys"),
          coalesce(sum(col("k")), lit(0L)).as("ksum"))
        .withColumn("compose_ok", lit(composeOk))
        .orderBy(col("version"), col("change_type"))
        .localCheckpoint(true) // must materialize before the finally-DROP
    } finally s.sql("DROP TABLE IF EXISTS graft28.nation_cdc"): Unit
  }

  /** ST29 — WRITE-TIME CDC row feed (round 14, VERDICT r13 #3; the
    * Delta Change Data Feed analog, completing the CDC family: st28
    * streams COMMITS and recomputes diffs, this streams the ROW IMAGES
    * the commits themselves staged): a table with
    * `graft.cdf.enabled = true` makes every commit additionally
    * publish its inserted/deleted row images under
    * `<table>.changes/_commit_version=<v>/`
    * ([[graft.sources.GraftCdf]] — O(changed) per commit: appends
    * write their own rows, rewrites exceptAll-diff only the affected
    * files, updates emit delete(old)+insert(new)). The feed is Spark's
    * own checkpointed file stream over that directory — restart-safe
    * with NO snapshot joins (the st28 consumer's per-version
    * versionDiff job disappears; the Round14 spec pins restart
    * behavior). Contract: the sql52 history (CTAS v1 → UPDATE v2 →
    * DELETE v3) streamed via the row feed, keys re-classified per
    * version from the row images, must EQUAL `Dml.tableChanges(0, 3)`
    * recomputed from snapshots — claims are the per-(version, class)
    * counts/key-sums plus the equivalence boolean. */
  def st29CdfRows(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val cat = Tables.graftCatalog(s, "st29", sfDir)
    val base = Tables.scratchDir("st29_cat", sfDir)
    s.sql(s"DROP TABLE IF EXISTS $cat.nation_cdf")
    Tables.nation(s, sfDir).select(col("n_nationkey"))
      .createOrReplaceTempView("nation_src29")
    s.sql(s"CREATE TABLE $cat.nation_cdf " +
      "TBLPROPERTIES ('graft.cdf.enabled'='true') AS " +
      "SELECT n_nationkey AS k, CAST(n_nationkey * 10 AS BIGINT) AS v " +
      "FROM nation_src29") // v1 — CTAS rows are the first insert images
    try {
      s.sql(s"UPDATE $cat.nation_cdf SET v = v + 1000 WHERE k % 5 = 0") // 2
      s.sql(s"DELETE FROM $cat.nation_cdf WHERE k % 3 = 0") // 3 (swap)
      val dir = new java.io.File(s"$base/nation_cdf")
      val outDir = Tables.scratchDir("st29_out", sfDir)
      val cpDir = Tables.scratchDir("st29_cp", sfDir)
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      fs.delete(new org.apache.hadoop.fs.Path(cpDir), true)
      scoped(s, Width -> "4") {
        val q = graft.sources.GraftCdf.rowsStream(s, dir)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", cpDir)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val streamed = Tables.tune(s).read.parquet(outDir)
      // row images → per-(key, version) change class: both sides
      // present = changed, insert-only = inserted, delete-only =
      // deleted — the classification tableChanges computes from
      // snapshot joins, here derived from the feed alone
      val classified = streamed
        .groupBy(col("k"), col("_commit_version").as("version"))
        .agg(max(when(col("_change_type") === "insert", 1)
            .otherwise(0)).as("ins"),
          max(when(col("_change_type") === "delete", 1)
            .otherwise(0)).as("del"))
        .withColumn("change_type",
          when(col("ins") === 1 && col("del") === 1, "changed")
            .when(col("ins") === 1, "inserted")
            .otherwise("deleted"))
      val fromFeed = classified
        .select(col("k"), col("version"), col("change_type"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .toSet
      val fromSnapshots = graft.operators.Dml
        .tableChanges(s, s"$cat.nation_cdf", 0L, 3L, Seq("k"))
        .collect()
        .map(r => (r.getInt(0), r.getAs[Long]("version"),
          r.getAs[String]("change_type")))
        .toSet
      val feedsMatch = fromFeed == fromSnapshots && fromFeed.nonEmpty
      classified.groupBy(col("version"), col("change_type"))
        .agg(count(lit(1)).as("n_keys"),
          coalesce(sum(col("k")), lit(0L)).as("ksum"))
        .withColumn("feeds_match", lit(feedsMatch))
        .orderBy(col("version"), col("change_type"))
        .localCheckpoint(true)
    } finally s.sql(s"DROP TABLE IF EXISTS $cat.nation_cdf"): Unit
  }

  /** ST30 — NATIVE STREAMING SINK (round 14, VERDICT r13 #4):
    * `writeStream.format("graft")` lands each micro-batch as one
    * transactional graft commit ([[graft.sources.GraftSink]]): staged
    * per-epoch, promoted under the commit lock, version-bumped,
    * CDC-published — with EXACTLY-ONCE via the `(queryId, epochId)`
    * ledger (a replayed epoch no-ops; the Round14 spec drives the
    * replay seam directly). Contract: nation streamed in TWO
    * AvailableNow runs against one checkpoint (odd keys, then even) —
    * run 2 resumes from the checkpoint, so the table ends with exactly
    * one copy of every row across two commits; a THIRD run with no new
    * data commits nothing. Claims: count/keysum/valuesum the oracle
    * restates from nation, the CDF insert count (one change set per
    * epoch), and the per-run version counters. */
  def st30GraftSink(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val cat = Tables.graftCatalog(s, "st30", sfDir)
    val base = Tables.scratchDir("st30_cat", sfDir)
    s.sql(s"DROP TABLE IF EXISTS $cat.nation_sink")
    s.sql(s"CREATE TABLE $cat.nation_sink (k INT, v BIGINT) " +
      "TBLPROPERTIES ('graft.cdf.enabled'='true')")
    try {
      val dir = new java.io.File(s"$base/nation_sink")
      val cp = Tables.scratchDir("st30_cp", sfDir)
      org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(cp), true)
      val rows = Tables.nation(s, sfDir)
        .select(col("n_nationkey")).collect()
        .map(r => (r.getInt(0), r.getInt(0).toLong * 10))
      val (evens, odds) = rows.partition(_._1 % 2 == 0)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
      import s.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, Long)]
      def runOnce(): Unit = {
        val q = ms.toDS().toDF("k", "v").writeStream.format("graft")
          .option("tableDir", dir.getAbsolutePath)
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      ms.addData(evens.toIndexedSeq)
      runOnce() // epoch 0 → commit v1
      val vAfter1 = graft.sources.GraftTxn.version(dir)
      ms.addData(odds.toIndexedSeq)
      runOnce() // resumes from the checkpoint → epoch 1 → commit v2
      val vAfter2 = graft.sources.GraftTxn.version(dir)
      runOnce() // nothing new → no commit
      val vAfter3 = graft.sources.GraftTxn.version(dir)
      val r = s.table(s"$cat.nation_sink").agg(count(lit(1)),
        coalesce(sum(col("k")), lit(0L)),
        coalesce(sum(col("v")), lit(0L))).head()
      val nCdfInserts = graft.sources.GraftCdf.rows(s, dir)
        .filter(col("_change_type") === "insert").count()
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), nCdfInserts,
          vAfter1 == 1L && vAfter2 == 2L && vAfter3 == 2L))
        .toDF("n_rows", "ksum", "vsum", "n_cdf_inserts",
          "one_commit_per_epoch")
    } finally s.sql(s"DROP TABLE IF EXISTS $cat.nation_sink"): Unit
  }

  /** ST31 — SNAPSHOT-THEN-INCREMENTAL graft streaming source
    * (round 16, VERDICT r15 ask #7; the Delta-source
    * backfill-then-follow idiom): `readStream.format(
    * "graft-snapshot-cdc")` on a CDF-enabled graft table emits the
    * INITIAL SNAPSHOT as insert images (pinned under the commit lock,
    * paced by maxFilesPerBatch, DV-aware) and then the WRITE-TIME CDF
    * tail — one checkpointed query, restart-safe at every offset
    * ([[graft.sources.GraftSnapshotFeed]]). Contract: nation seeded +
    * updated (v2), streamed in run 1 (snapshot ONLY — multiple
    * batches); DELETE (v3) + INSERT (v4) land while the stream is
    * down; run 2 RESUMES ACROSS THE BOUNDARY and emits exactly the
    * tail. The multiset `inserts − deletes` reconstructed from the
    * feed must equal the live table; a third run with no commits
    * emits nothing. Claims: per-change-type feed counts the oracle
    * restates from nation, the reconstruction equivalence, and the
    * run-2/run-3 batch-count booleans. */
  def st31SnapshotThenTail(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val cat = Tables.graftCatalog(s, "st31", sfDir)
    val base = Tables.scratchDir("st31_cat", sfDir)
    s.sql(s"DROP TABLE IF EXISTS $cat.nation_sf")
    // explicit repartition(6): AQE never coalesces a user-fixed
    // partition count, so the snapshot really spans multiple files
    // (the b1 >= 2 backfill-pacing claim)
    Tables.nation(s, sfDir)
      .selectExpr("n_nationkey AS k",
        "CAST(n_nationkey * 10 AS BIGINT) AS v")
      .repartition(6)
      .createOrReplaceTempView("nation_src31")
    s.sql(s"CREATE TABLE $cat.nation_sf " +
      "TBLPROPERTIES ('graft.cdf.enabled'='true') AS " +
      "SELECT * FROM nation_src31")
    try {
      s.sql(s"UPDATE $cat.nation_sf SET v = v + 1000 WHERE k % 5 = 0") // 2
      val dir = new java.io.File(s"$base/nation_sf")
      val outDir = Tables.scratchDir("st31_out", sfDir)
      val cpDir = Tables.scratchDir("st31_cp", sfDir)
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      fs.delete(new org.apache.hadoop.fs.Path(cpDir), true)
      def runOnce(): Long = {
        val q = s.readStream.format("graft-snapshot-cdc")
          .option("tableDir", dir.getAbsolutePath)
          .option("maxFilesPerBatch", "2")
          .load()
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", cpDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress.count(_.numInputRows > 0).toLong
      }
      scoped(s, Width -> "4") {
        val b1 = runOnce() // snapshot backfill only (v2 state)
        val snapRows = Tables.tune(s).read.parquet(outDir).count()
        s.sql(s"DELETE FROM $cat.nation_sf WHERE k % 3 = 0") // v3
        s.sql(s"INSERT INTO $cat.nation_sf VALUES (900, 9000), " +
          "(901, 9010)") // v4
        val b2 = runOnce() // resumes ACROSS the boundary: tail only
        val b3 = runOnce() // no new commits
        val feed = Tables.tune(s).read.parquet(outDir)
        val recon = feed.groupBy(col("k"), col("v"))
          .agg(sum(when(col(graft.sources.GraftCdf.ChangeTypeCol) ===
            "insert", 1L).otherwise(-1L)).as("m"))
          .filter(col("m") > 0).select(col("k"), col("v"))
        val tbl = s.table(s"$cat.nation_sf").select(col("k"), col("v"))
        // round 16: both exceptAll directions in ONE symmetric-diff
        // job (±1-count aggregation — exceptAll's own lowering shape);
        // empty ⇔ both exceptAlls empty, so reconOk is unchanged
        val reconOk = recon.withColumn("__side", lit(1L))
          .unionByName(tbl.withColumn("__side", lit(-1L)))
          .groupBy(col("k"), col("v"))
          .agg(sum(col("__side")).as("__d")).filter(col("__d") =!= 0L)
          .isEmpty
        val phasesOk = b1 >= 2 && // >1 file batch: a REAL backfill pace
          snapRows == Tables.nation(s, sfDir).count() &&
          b2 >= 1 && b3 == 0
        feed.groupBy(col(graft.sources.GraftCdf.ChangeTypeCol)
            .as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("k")), lit(0L)).as("ksum"))
          .withColumn("recon_ok", lit(reconOk))
          .withColumn("phases_ok", lit(phasesOk))
          .orderBy(col("change_type"))
          .localCheckpoint(true)
      }
    } finally s.sql(s"DROP TABLE IF EXISTS $cat.nation_sf"): Unit
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st31_snapshot_then_tail" -> (st31SnapshotThenTail _),
    "st30_graft_sink" -> (st30GraftSink _),
    "st29_cdf_rows" -> (st29CdfRows _),
    "st28_stream_change_feed" -> (st28StreamChangeFeed _),
    "st24_join_then_agg" -> (st24JoinThenAgg _),
    "st23_checkpoint_recovery" -> (st23CheckpointRecovery _),
    "st22_stream_dim_refresh" -> (st22StreamDimRefresh _),
    "st21_stream_upsert" -> (st21StreamUpsert _),
    "st27_stream_txn_upsert" -> (st27StreamTxnUpsert _),
    "st19_streaming_dedup" -> (st19StreamingDedup _),
    "st26_stream_semdedup" -> (st26StreamSemDedup _),
    "st20_streaming_observe" -> (st20StreamingObserve _),
    "st11_dsv2_stream" -> (st11SeqStream _),
    "st8_stream_stream" -> (st8StreamStreamJoin _),
    "st12_stream_outer" -> (st12StreamStreamOuter _),
    "st14_stream_full_outer" -> (st14StreamStreamFullOuter _),
    "st15_stream_semi" -> (st15StreamStreamSemi _),
    "st16_stream_anti" -> (st16StreamStreamAnti _),
    "st17_chained_aggs" -> (st17ChainedAggs _),
    "st13_timer_sessions" -> (st13TimerSessions _),
    "st9_file_sink" -> (st9FileSink _),
    "st10_foreach_batch" -> (st10ForeachBatch _),
    "st1_tumbling" -> (st1Tumbling _),
    "st25_stream_ohlc" -> (st25StreamOhlc _),
    "st2_sliding" -> (st2Sliding _),
    "st3_session" -> (st3Session _),
    "st4_late_drop" -> (st4LateDrop _),
    "st5_stream_dedup" -> (st5StreamDedup _),
    "st6_stateful" -> (st6Stateful _),
    "st6b_tws" -> (st6bTransformWithState _),
    "st7_stream_static" -> (st7StreamStatic _),
    "st18_update_mode" -> (st18UpdateMode _))

  val oracles: Map[String, String] = Map(
    // the feed's per-class counts restated from nation: inserts = the
    // whole snapshot (one image per key — the pre-stream UPDATE is
    // FOLDED IN, not streamed) plus v4's two inserts; deletes = v3's
    // k%3=0 images; reconstruction/phase pacing are engine booleans
    "st31_snapshot_then_tail" ->
      ("WITH ev AS (" +
       "SELECT 'insert' AS change_type, n_nationkey AS k FROM nation " +
       "UNION ALL SELECT 'insert', 900 " +
       "UNION ALL SELECT 'insert', 901 " +
       "UNION ALL SELECT 'delete', n_nationkey FROM nation " +
       "WHERE n_nationkey % 3 = 0) " +
       "SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
       "CAST(SUM(k) AS BIGINT) AS ksum, " +
       "TRUE AS recon_ok, TRUE AS phases_ok " +
       "FROM ev GROUP BY change_type ORDER BY change_type"),
    // per-version change classes restated from the base table: v2 =
    // UPDATE k%5=0 (changed), v3 = DELETE k%3=0 (deleted), v4 = MERGE
    // updating surviving k%7=1 keys + inserting 900/901
    // the streamed table re-derives from nation: one copy of every
    // key across the two epochs; CDF saw each row inserted once;
    // version counters are engine booleans
    "st30_graft_sink" ->
      ("SELECT CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows, " +
       "CAST((SELECT SUM(n_nationkey) FROM nation) AS BIGINT) AS ksum, " +
       "CAST((SELECT SUM(n_nationkey) * 10 FROM nation) AS BIGINT) " +
       "AS vsum, " +
       "CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_cdf_inserts, " +
       "TRUE AS one_commit_per_epoch"),
    // the row-image feed re-classified per (key, version): v1 = every
    // seed key inserted (CTAS images), v2 = k%5=0 changed (delete+
    // insert pair), v3 = k%3=0 deleted; the snapshot-equivalence
    // boolean is engine-verified against tableChanges
    "st29_cdf_rows" ->
      ("WITH ev AS (" +
       "SELECT 1 AS version, 'inserted' AS change_type, n_nationkey AS k " +
       "FROM nation " +
       "UNION ALL SELECT 2, 'changed', n_nationkey FROM nation " +
       "WHERE n_nationkey % 5 = 0 " +
       "UNION ALL SELECT 3, 'deleted', n_nationkey FROM nation " +
       "WHERE n_nationkey % 3 = 0) " +
       "SELECT CAST(version AS BIGINT) AS version, change_type, " +
       "CAST(COUNT(*) AS BIGINT) AS n_keys, " +
       "CAST(SUM(k) AS BIGINT) AS ksum, TRUE AS feeds_match " +
       "FROM ev GROUP BY version, change_type " +
       "ORDER BY version, change_type"),
    "st28_stream_change_feed" ->
      ("WITH ev AS (" +
       "SELECT 2 AS version, 'changed' AS change_type, n_nationkey AS k " +
       "FROM nation WHERE n_nationkey % 5 = 0 " +
       "UNION ALL SELECT 3, 'deleted', n_nationkey FROM nation " +
       "WHERE n_nationkey % 3 = 0 " +
       "UNION ALL SELECT 4, 'changed', n_nationkey FROM nation " +
       "WHERE n_nationkey % 7 = 1 AND n_nationkey % 3 <> 0 " +
       "UNION ALL SELECT 4, 'inserted', 900 " +
       "UNION ALL SELECT 4, 'inserted', 901) " +
       "SELECT CAST(version AS BIGINT) AS version, change_type, " +
       "CAST(COUNT(*) AS BIGINT) AS n_keys, " +
       "CAST(SUM(k) AS BIGINT) AS ksum, TRUE AS compose_ok " +
       "FROM ev GROUP BY version, change_type " +
       "ORDER BY version, change_type"),
    // the joined pairs and hourly rollup recomputed in batch; the
    // streaming chain must equal it exactly
    "st24_join_then_agg" ->
      ("WITH c AS (SELECT user_id, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click'), " +
       "p AS (SELECT user_id, epoch_us(ts) AS pt, value FROM events " +
       "WHERE event_type = 'purchase'), " +
       "j AS (SELECT p.pt, p.value FROM c JOIN p " +
       "ON p.user_id = c.user_id AND p.pt >= c.ct " +
       "AND p.pt <= c.ct + 3600000000) " +
       "SELECT (pt // 3600000000) * 3600 AS hour_start, " +
       "CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
       "FROM j GROUP BY 1 ORDER BY hour_start"),
    // the uninterrupted batch aggregate over ALL events — equality
    // with the restarted query's state IS the recovery proof
    "st23_checkpoint_recovery" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
       "TRUE AS recovered_ok FROM events " +
       "GROUP BY event_type ORDER BY event_type"),
    // batch membership is (doc_id div 10) % 2 (the staged split), so
    // the oracle reproduces which rows saw which dim version
    "st22_stream_dim_refresh" ->
      ("SELECT lang, lang || '_v' || CAST(CASE WHEN (doc_id // 10) % 2 = 0 " +
       "THEN 1 ELSE 2 END AS VARCHAR) AS label, " +
       "CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS min_doc " +
       "FROM documents WHERE doc_id % 10 = 3 " +
       "GROUP BY 1, 2 ORDER BY lang, label"),
    // the serving table after the replay ≡ batch latest-by-key (x15's
    // window-top-1 spelling); the duplicated feed makes the same rows
    // arrive twice, so equality here IS the idempotence proof
    "st21_stream_upsert" ->
      ("SELECT user_id, epoch_us(ts) AS last_ts_us, " +
       "event_id AS last_event_id, event_type AS last_type, " +
       "value AS last_value FROM " +
       "(SELECT *, row_number() OVER (PARTITION BY user_id " +
       "ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) s " +
       "WHERE rn = 1 ORDER BY user_id"),
    // the serving mechanism changes (transactional MERGE loop), the
    // contract doesn't: same latest-event-per-user recompute as st21
    "st27_stream_txn_upsert" ->
      ("SELECT user_id, epoch_us(ts) AS last_ts_us, " +
       "event_id AS last_event_id, event_type AS last_type, " +
       "value AS last_value FROM " +
       "(SELECT *, row_number() OVER (PARTITION BY user_id " +
       "ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) s " +
       "WHERE rn = 1 ORDER BY user_id"),
    // survivors recomputed exhaustively: probe docs (doc_id % 10 = 3)
    // with NO corpus near-dup above 0.5 shingle-Jaccard (x55's corpus
    // split and threshold)
    // survivors of the streaming semantic probe loop == the x173
    // complement: probes with no same-cluster corpus pair at t=0.8
    // (the factored x173 chain, NOT EXISTS form)
    "st26_stream_semdedup" -> graft.operators.CurationOps.StreamSemDedupSql,
    "st19_streaming_dedup" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${graft.operators.TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT p.doc_id AS doc_new, c.doc_id AS doc_old, " +
       "COUNT(*) AS inter FROM s p JOIN s c ON p.ngram = c.ngram " +
       "AND p.doc_id % 10 = 3 AND c.doc_id % 10 <> 3 GROUP BY 1, 2), " +
       "matched AS (SELECT DISTINCT doc_new FROM i " +
       "JOIN n nn ON nn.doc_id = doc_new JOIN n no ON no.doc_id = doc_old " +
       "WHERE inter / (nn.n_sh + no.n_sh - inter) > 0.5) " +
       "SELECT d.doc_id FROM documents d WHERE d.doc_id % 10 = 3 " +
       "AND d.doc_id NOT IN (SELECT doc_new FROM matched) " +
       "ORDER BY doc_id"),
    // observed metrics summed over the two file-batches must equal the
    // probe shard's batch aggregates; n_batches pins the replay shape
    "st20_streaming_observe" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
       "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
       "CAST(2 AS BIGINT) AS n_batches, " +
       "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs " +
       "FROM documents WHERE doc_id % 10 = 3"),
    // the three-way time-split replay's batch membership is a pure
    // function of the data (segments at max-1h / max-2h), so the oracle
    // reproduces update-mode's per-key version count exactly
    "st18_update_mode" ->
      ("WITH b AS (SELECT epoch_us(ts) AS us, user_id, value FROM events), " +
       "m AS (SELECT MAX(us) AS mx FROM b), " +
       "seg AS (SELECT user_id, value, CASE " +
       "WHEN us > mx - 3600000000 THEN 0 " +
       "WHEN us > mx - 7200000000 THEN 1 ELSE 2 END AS s " +
       "FROM b CROSS JOIN m) " +
       "SELECT user_id, COUNT(*) AS n, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
       "CAST(COUNT(DISTINCT s) AS BIGINT) AS n_updates " +
       "FROM seg GROUP BY user_id ORDER BY user_id"),
    "st11_dsv2_stream" ->
      ("SELECT CAST(id % 100 AS INT) AS bucket, COUNT(*) AS n, " +
       "CAST(SUM(CAST((((id * 2654435761) % 1000) / 10.0) AS DECIMAL(18,4))) AS DOUBLE) AS sum_val " +
       "FROM (SELECT range AS id FROM range(0, 100000)) t " +
       "GROUP BY 1 ORDER BY 1"),
    "st17_chained_aggs" ->
      ("WITH ten AS (SELECT (epoch_us(ts) // 600000000) * 600 AS w10, " +
       "event_type, COUNT(*) AS n FROM events GROUP BY 1, 2) " +
       "SELECT (w10 // 3600) * 3600 AS hour_start, event_type, " +
       "CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_subwindows FROM ten " +
       "GROUP BY 1, 2 ORDER BY hour_start, event_type"),
    "st1_tumbling" ->
      ("SELECT (epoch_us(ts) // 600000000) * 600 AS win_start, event_type, " +
       "COUNT(*) AS n, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
       "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"),
    "st25_stream_ohlc" ->
      ("WITH e AS MATERIALIZED (SELECT epoch_us(ts) // 86400000000 AS day, " +
       "epoch_us(ts) AS tus, event_id, value FROM events), " +
       "o AS (SELECT day, value AS open FROM e QUALIFY " +
       "row_number() OVER (PARTITION BY day ORDER BY tus, event_id) = 1), " +
       "c AS (SELECT day, value AS close FROM e QUALIFY " +
       "row_number() OVER (PARTITION BY day ORDER BY tus DESC, " +
       "event_id DESC) = 1), " +
       "a AS (SELECT day, MAX(value) AS high, MIN(value) AS low, " +
       "CAST(COUNT(*) AS BIGINT) AS n_ticks, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS vsum " +
       "FROM e GROUP BY 1) " +
       "SELECT CAST(a.day * 86400 AS BIGINT) AS win_start, o.open, " +
       "a.high, a.low, c.close, a.n_ticks, a.vsum " +
       "FROM a JOIN o ON o.day = a.day JOIN c ON c.day = a.day " +
       "ORDER BY win_start"),
    "st2_sliding" ->
      // every event belongs to the two 5-min-aligned 10-min windows
      // covering it: start = floor(t/300)*300 and that minus 300
      ("SELECT win_start, COUNT(*) AS n FROM (" +
       "SELECT (epoch_us(ts) // 300000000) * 300 AS win_start FROM events " +
       "UNION ALL " +
       "SELECT (epoch_us(ts) // 300000000) * 300 - 300 AS win_start FROM events" +
       ") t GROUP BY win_start ORDER BY win_start"),
    "st3_session" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
       "flagged AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER " +
       "(PARTITION BY user_id ORDER BY t) > 1800000000 " +
       "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL " +
       "THEN 1 ELSE 0 END AS new_sess FROM e), " +
       "sess AS (SELECT user_id, t, SUM(new_sess) OVER " +
       "(PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING " +
       "AND CURRENT ROW) AS sid FROM flagged) " +
       "SELECT user_id, MIN(t) AS sess_start_us, " +
       "MAX(t) + 1800000000 AS sess_end_us, COUNT(*) AS n_events " +
       "FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start_us"),
    // the drop rule, reproduced in batch SQL: only last-two-hours
    // events (batch0+batch1) survive, and only their windows closed by
    // the final watermark (max(ts) - 15 min) are emitted
    "st4_late_drop" ->
      ("WITH m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events), " +
       "a AS (SELECT epoch_us(ts) AS t FROM events " +
       "WHERE epoch_us(ts) > (SELECT mx FROM m) - 7200000000), " +
       "w AS (SELECT (t // 600000000) * 600 AS win_start, COUNT(*) AS n " +
       "FROM a GROUP BY 1) " +
       "SELECT win_start, n FROM w " +
       "WHERE (win_start + 600) * 1000000 <= (SELECT mx FROM m) - 900000000 " +
       "ORDER BY win_start"),
    "st5_stream_dedup" ->
      ("SELECT event_type, COUNT(*) AS n FROM events " +
       "GROUP BY event_type ORDER BY event_type"),
    "st6_stateful" ->
      ("SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value " +
       "FROM events GROUP BY user_id ORDER BY user_id"),
    "st6b_tws" ->
      ("SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value " +
       "FROM events GROUP BY user_id ORDER BY user_id"),
    "st7_stream_static" ->
      ("SELECT c_mktsegment, COUNT(*) AS n_events, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
       "FROM events JOIN customer ON user_id = c_custkey " +
       "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "st8_stream_stream" ->
      ("SELECT cu AS user_id, COUNT(*) AS n_pairs, " +
       "CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_value FROM " +
       "(SELECT c.cu, p.v FROM " +
       "(SELECT user_id AS cu, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click') c JOIN " +
       "(SELECT user_id AS pu, epoch_us(ts) AS pt, value AS v FROM events " +
       "WHERE event_type = 'purchase') p " +
       "ON c.cu = p.pu AND p.pt >= c.ct AND p.pt <= c.ct + 3600000000) s " +
       "GROUP BY cu ORDER BY user_id"),
    "st13_timer_sessions" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
       "flagged AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER " +
       "(PARTITION BY user_id ORDER BY t) > 1800000000 " +
       "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL " +
       "THEN 1 ELSE 0 END AS new_sess FROM e), " +
       "sess AS (SELECT user_id, t, SUM(new_sess) OVER " +
       "(PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING " +
       "AND CURRENT ROW) AS sid FROM flagged) " +
       "SELECT user_id, MIN(t) AS sess_start_us, " +
       "MAX(t) + 1800000000 AS sess_end_us, COUNT(*) AS n_events " +
       "FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start_us"),
    "st12_stream_outer" ->
      ("SELECT cu AS user_id, COUNT(v) AS n_pairs, " +
       "CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_unmatched, " +
       "COALESCE(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE), 0.0) " +
       "AS sum_value FROM " +
       "(SELECT c.cu, p.v FROM " +
       "(SELECT user_id AS cu, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click') c LEFT JOIN " +
       "(SELECT user_id AS pu, epoch_us(ts) AS pt, value AS v FROM events " +
       "WHERE event_type = 'purchase') p " +
       "ON c.cu = p.pu AND p.pt >= c.ct AND p.pt <= c.ct + 3600000000) s " +
       "GROUP BY cu ORDER BY user_id"),
    // a click is "converted" iff SOME purchase follows within the hour;
    // duplicates of the same (user, ts) click each count once, exactly
    // as the streaming semi emits each left ROW once
    "st15_stream_semi" ->
      ("SELECT user_id, COUNT(*) AS n_converted_clicks, " +
       "MIN(ct) AS first_click_us FROM " +
       "(SELECT user_id, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click') c " +
       "WHERE EXISTS (SELECT 1 FROM events p " +
       "WHERE p.event_type = 'purchase' AND p.user_id = c.user_id " +
       "AND epoch_us(p.ts) >= c.ct AND epoch_us(p.ts) <= c.ct + 3600000000) " +
       "GROUP BY user_id ORDER BY user_id"),
    // a click is "abandoned" iff NO purchase follows within the hour —
    // the complement of st15's EXISTS over the same click set, so the
    // two results partition the clicks (spec-checked)
    "st16_stream_anti" ->
      ("SELECT user_id, COUNT(*) AS n_abandoned_clicks, " +
       "MIN(ct) AS first_abandoned_us FROM " +
       "(SELECT user_id, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click') c " +
       "WHERE NOT EXISTS (SELECT 1 FROM events p " +
       "WHERE p.event_type = 'purchase' AND p.user_id = c.user_id " +
       "AND epoch_us(p.ts) >= c.ct AND epoch_us(p.ts) <= c.ct + 3600000000) " +
       "GROUP BY user_id ORDER BY user_id"),
    "st14_stream_full_outer" ->
      ("SELECT COALESCE(cu, pu) AS user_id, " +
       "CAST(SUM(CASE WHEN ct IS NOT NULL AND pt IS NOT NULL THEN 1 ELSE 0 END) " +
       "AS BIGINT) AS n_pairs, " +
       "CAST(SUM(CASE WHEN pt IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
       "AS n_unm_clicks, " +
       "CAST(SUM(CASE WHEN ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
       "AS n_unm_purchases, " +
       "COALESCE(CAST(SUM(CASE WHEN ct IS NOT NULL " +
       "THEN CAST(v AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS sum_value " +
       "FROM (SELECT c.cu, c.ct, p.pu, p.pt, p.v FROM " +
       "(SELECT user_id AS cu, epoch_us(ts) AS ct FROM events " +
       "WHERE event_type = 'click') c FULL JOIN " +
       "(SELECT user_id AS pu, epoch_us(ts) AS pt, value AS v FROM events " +
       "WHERE event_type = 'purchase') p " +
       "ON c.cu = p.pu AND p.pt >= c.ct AND p.pt <= c.ct + 3600000000) s " +
       "GROUP BY 1 ORDER BY user_id"),
    "st9_file_sink" ->
      ("SELECT COUNT(*) AS n, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, " +
       "MIN(event_id) AS min_id, MAX(event_id) AS max_id " +
       "FROM events WHERE event_type = 'purchase'"),
    "st10_foreach_batch" ->
      ("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_distinct, " +
       "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value " +
       "FROM events WHERE event_type = 'error'"))
}
