package perfbench

import graft.SparkEntry
import graft.operators._

/** The benchmark's workloads: fixed row lists drawn from the engine's
  * public query maps. Each row builds a DataFrame and is then counted. */
object Workloads {
  /** Read-only SQL: subqueries and TPC-H shapes, joins, aggregates,
    * windows and set operations. Never touches the commit protocol,
    * streaming or the staged tier. */
  def olap: Seq[String] =
    (Subqueries.queries.keys ++ Joins.queries.keys ++ Aggs.queries.keys ++
      Windows.queries.keys ++ SetOps.queries.keys).toSeq

  /** Writes beside reads: DML over the transactional table format and
    * streaming replays, including the foreachBatch sinks. */
  val ingest: Seq[String] = Seq(
    "sql43_insert_dml", "sql46_update_merge", "sql52_time_travel",
    "sql57_multi_table_txn", "sql62_deletion_vectors", "sql65_dv_update",
    "sql67_matview_refresh", "sql68_session_txn", "x181_compact_table",
    "st5_stream_dedup", "st12_stream_outer", "st13_timer_sessions",
    "st19_streaming_dedup", "st21_stream_upsert", "st24_join_then_agg",
    "st26_stream_semdedup", "st27_stream_txn_upsert", "st30_graft_sink")

  /** Iterative graph cuts and basket mining: Memo builds and rides, the
    * staged adjacency and baskets. */
  def pipeline: Seq[String] =
    (GraphOps.queries.keys ++ BasketOps.queries.keys).toSeq

  def rows(workload: String): Seq[String] = (workload match {
    case "olap" => olap
    case "ingest" => ingest
    case "pipeline" => pipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }).sorted

  /** Seed 0 is name order; any other seed is a fixed permutation. */
  def ordered(rows: Seq[String], seed: Long): Seq[String] =
    if (seed == 0) rows.sorted else new scala.util.Random(seed).shuffle(rows.sorted)

  def query(name: String): (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no such query $name"))
}
