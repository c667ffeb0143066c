package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for iterative fixpoints (dedup clustering,
  * Lloyd refinement).
  *
  * Default: `localCheckpoint` — executor-local blocks, no
  * serialization to a remote store, the right trade single-tenant and
  * in local mode. Its cluster-scale weakness is durability: the blocks
  * live only on the executors that wrote them, so losing ONE executor
  * mid-fixpoint kills the job (a 1000-executor run WILL lose executors).
  *
  * Setting `spark.graft.checkpointDir` (SQL conf or Spark conf) routes
  * every truncation through a RELIABLE `checkpoint()` into that
  * directory instead: rounds survive executor loss and restart from the
  * last materialized round. The SparkContext checkpoint dir is set on
  * first use and left alone if the caller already configured one
  * (checkpoint() requires it; setting it is idempotent per job).
  *
  * The price is real I/O per round. SURVEY.md and SCALING.md keep its
  * last sf1.0 measurement; no benchmark workload times it.
  */
object Checkpoints {

  val DirConf = "spark.graft.checkpointDir"

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirConf).filter(_.nonEmpty)

  /** Truncate `df`'s lineage per the session's checkpoint policy,
    * without an eager materialization job: the CALLER'S
    * next action on the returned frame computes it and the checkpoint
    * happens as part of that same job (local checkpoints cache the
    * partitions as the job runs; reliable ones write after it). The
    * iterative fixpoints pair this with their per-round convergence
    * aggregate, so each round runs ONE job (signature + truncation)
    * instead of two (eager count, then signature). Callers MUST run an
    * action on the result before building the next round's plan on it. */
  def truncateLazy(df: DataFrame): DataFrame =
    reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }
}
