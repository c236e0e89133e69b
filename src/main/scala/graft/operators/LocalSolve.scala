package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}

/** The one size gate in front of every iterative operator that has an
  * exact single-task solve: connected components (GraphOps), graph_bfs
  * (AnalyticsOps), MMR rerank (VectorOps) and the BPE fit (BpeOps).
  *
  * The decision is the same for all four: count the rows of the
  * caller's already-checkpointed input frame — exactly the rows the
  * solve's task would receive — and compare them with one bound, read
  * from [[MaxRowsKey]]. At or under the bound the caller's exact solve
  * runs in ONE executor task (`coalesce(1).mapPartitions`, then an eager
  * `localCheckpoint`): one job instead of a relax/round loop whose cost
  * at that size is almost pure job-scheduling latency, and no driver
  * collect. Above it the caller's distributed fallback runs unchanged —
  * the only shape that survives a 100 TB input. Setting the bound to 0
  * forces the distributed regime for any non-empty input (the
  * regime-equivalence tests use this).
  */
object LocalSolve {

  /** Rows the single task may receive. */
  val MaxRowsKey = "spark.graft.localSolve.maxRows"

  /** 1M rows. The heaviest solves keep a few hundred bytes per row in
    * the task (BPE: a word plus its piece array; MMR: a keyed pair-score
    * map), so 1M bounds one task at a few hundred MB of heap. CC's 16 B
    * edge rows would fit more, but one bound in one unit is the point. */
  val MaxRowsDefault = 1000000L

  /** @param op          name reported on the regime line
    * @param input       materialized (checkpointed) frame the solve reads;
    *                    its columns decode positionally into `I`
    * @param columns     names of the solve's output columns
    * @param solve       the exact solve over every input row
    * @param distributed fallback, given the measured row count */
  def apply[I: Encoder, O: Encoder](op: String, input: DataFrame,
      columns: String*)(solve: Iterator[I] => Iterator[O])(
      distributed: Long => DataFrame): DataFrame = {
    val rows = input.count()
    val bound = input.sparkSession.conf.getOption(MaxRowsKey)
      .map(_.toLong).getOrElse(MaxRowsDefault)
    val local = rows <= bound
    System.err.println(s"[graft] $op: " +
      (if (local) s"one-task solve ($rows rows <= $bound)"
       else s"distributed ($rows rows > $bound)"))
    if (local)
      input.as[I].coalesce(1).mapPartitions(solve).toDF(columns: _*)
        .localCheckpoint()
    else distributed(rows)
  }
}
