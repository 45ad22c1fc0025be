package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.col

/** Pins a loop-static relation: one an iterative operator (CC, PageRank,
  * LPA) re-reads unchanged every round, such as its edge or node set. It
  * is checkpointed once, hash-partitioned on the round join key, so each
  * round's join exchanges only the small per-round iterate.
  *
  *   - The pinning checkpoint is planned WITHOUT AQE. With AQE on,
  *     `localCheckpoint` captures `UnknownPartitioning` (the adaptive
  *     plan's partitioning is not final at capture time), and every round
  *     silently re-exchanges the relation. A non-adaptive plan keeps
  *     `hashpartitioning(key, n)` on the LogicalRDD for the AQE-on rounds.
  *   - `n` comes from the ROW COUNT, not `spark.sql.shuffle.partitions`:
  *     the pinned partitioning is outside AQE, so the session width would
  *     fix every round at (e.g.) 32-task stages however tiny the graph
  *     (q129 paid +1.2 s at sf0.1 for that), and at 100 TB it would
  *     under-partition. Rows are narrow (8-50 B), so 2M rows per
  *     partition gives partitions of tens of MB.
  *   - AQE is turned off on a clone of the caller's session
  *     ([[GraftSqlBridge.checkpointNonAdaptive]]), never on the shared
  *     session: the session-global flag is seen by every query running
  *     on it, and a set/restore pair is not reentrant. The clone is made
  *     per call and never cached, so it carries the caller's current
  *     runtime confs (`newSession()` would drop them); it is never
  *     stopped, because it shares the caller's SparkContext.
  */
private[operators] object LoopStatic {

  private val RowsPerPartition = 2000000L

  /** Pin `df` hash-partitioned on `key`: a staging checkpoint evaluates the
    * upstream pipeline once and is counted, the count sizes the partitions,
    * then `repartition(n, key)` followed by `shape` (CC passes
    * `_.distinct()`, which reuses the exchange) is checkpointed without
    * AQE and the staging copy is freed.
    *
    * @return the pinned relation and the row count of `df`
    */
  def pin(
      df: DataFrame, key: String,
      shape: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val staged = df.localCheckpoint()
    try {
      val rows = staged.count()
      val n = math.max(1L, (rows + RowsPerPartition - 1) / RowsPerPartition).toInt
      (GraftSqlBridge.checkpointNonAdaptive(
        shape(staged.repartition(n, col(key)))), rows)
    } finally GraftSqlBridge.unpersistCheckpoint(staged)
  }
}
