package graft

import org.apache.spark.sql.DataFrame

/** The ONE lineage-cut seam for the iterative family (VERDICT r8 #9:
  * connected components, PageRank staging, PQ/k-means training, SSSP).
  *
  * Iterative DataFrame algorithms must cut lineage each round or the
  * plan grows without bound; WHERE the cut materializes is a
  * deployment decision, not an algorithm decision, so every iterative
  * call site routes through here and the strategy is one runtime conf:
  *
  *   spark.graft.checkpoint.mode =
  *     local    (default) — `localCheckpoint(eager)`: executor-local
  *               blocks, zero distributed-FS traffic. Right for
  *               local[n] and for clusters WITHOUT executor loss
  *               (static allocation, short jobs); blocks die with an
  *               executor, so under dynamic allocation a lost node
  *               kills the job.
  *     reliable — `checkpoint(eager)` to `spark.graft.checkpoint.dir`
  *               (set once per session; on a cluster an HDFS/object
  *               path). Survives executor loss — the production
  *               default for long iterative jobs under dynamic
  *               allocation.
  *     table    — write/read a parquet round-trip under the same dir:
  *               the "persisted intermediate table" form — survives
  *               the whole APPLICATION, inspectable mid-pipeline, and
  *               the natural spelling when iterations are separate
  *               warehouse jobs.
  *
  * All three return a frame whose plan is a flat scan of materialized
  * data — downstream plans (and results) are identical; specs run the
  * suite under `local`, and CheckpointsSpec pins result-equality of
  * the three modes on a planted iteration. */
object Checkpoints {

  private def conf(df: DataFrame, key: String, dflt: String): String =
    df.sparkSession.conf.getOption(key).getOrElse(dflt)

  private val Counter = new java.util.concurrent.atomic.AtomicLong()

  /** Run `f` (query construction containing EAGER cuts, or an eager
    * build) under [[SessionConf.AqeOff]] and a data-proportional
    * shuffle width — `width`, capped by the session's current width,
    * at least 2 (round 17, fixed per-job costs): each eager execution
    * collapses to one job instead of one per AQE exchange stage, over
    * right-sized partitions. Semantics-free — AQE re-plans, never
    * re-defines. A [[SessionConf.scoped]] section, so concurrent or
    * nested sections restore the session's own values however they
    * exit. */
  def withAqeOff[T](spark: org.apache.spark.sql.SparkSession,
      width: Int)(f: => T): T = {
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    SessionConf.scoped(spark, SessionConf.AqeOff :+
      ("spark.sql.shuffle.partitions" ->
        math.max(2, math.min(width, current)).toString): _*)(f)
  }

  def cut(df: DataFrame): DataFrame =
    conf(df, "spark.graft.checkpoint.mode", "local") match {
      case "reliable" =>
        val spark = df.sparkSession
        val dir = conf(df, "spark.graft.checkpoint.dir",
          s"${sys.props("java.io.tmpdir")}/graft_ckpt")
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(true)
      case "table" =>
        val spark = df.sparkSession
        val dir = conf(df, "spark.graft.checkpoint.dir",
          s"${sys.props("java.io.tmpdir")}/graft_ckpt")
        val path = s"$dir/step_${java.lang.ProcessHandle.current().pid()}" +
          s"_${Counter.incrementAndGet()}"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      case _ => df.localCheckpoint(true)
    }
}
