package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager, fault-tolerant materialization of a multiply-consumed
  * intermediate — the engine-wide `localCheckpoint` replacement (r12).
  *
  * `localCheckpoint()` was the round-3 fix for shingle/token tables
  * feeding several consumers: eager and cheap at local[32], but it
  * truncates lineage into NON-REPLICATED executor blocks — on a real
  * cluster, losing one executor after the checkpoint fails the job
  * outright (nothing remains to recompute from). The r11 verdict
  * flagged the one site inside ops/; an r12 review found the same
  * pattern at every multi-consumer builder.
  *
  * The replacement is a RELIABLE `checkpoint()` (eager), not
  * `persist`: both were measured head-to-head on the similarity
  * queries at sf0.1. `persist(DISK_ONLY)` routes through the columnar
  * cache (`InMemoryRelation`), whose batch encode/decode is
  * pathological for the array<bigint> shingle columns these tables
  * carry — q37 went 1.3s → 5.5s, q29 2.2s → 4.5s. Reliable
  * checkpoint serializes rows as-is to the checkpoint directory
  * (q37 1.6s, q29 1.8–2.4s — at or under the old localCheckpoint
  * floors, because the materialized table is also now read once per
  * consumer instead of re-encoded). On a cluster the checkpoint dir
  * points at durable shared storage, so unlike executor-local blocks
  * the materialization survives node loss; locally it defaults to a
  * per-application scratch dir removed at application end (checkpoint
  * files are not reference-tracked by default, and bench reps would
  * otherwise accumulate one table per invocation on disk forever).
  */
object Materialize {

  /** Set a default checkpoint dir (graft.Scratch's per-application
    * "checkpoint" path, swept at application end) if the context has
    * none. A caller-provided dir is respected and never deleted.
    * Shared by [[once]] and GraphOps' iterative loop.
    */
  def ensureCheckpointDir(s: SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty) synchronized {
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(graft.Scratch.app(s, "checkpoint"))
    }

  /** Materialize `df` eagerly and fault-tolerantly. `slot` names the
    * call site in the Spark UI / event log: the eager checkpoint runs
    * a job, and that job carries `slot` as its description (restored
    * after, so the label doesn't bleed onto the caller's later jobs).
    * Each invocation writes a fresh checkpoint (files are bounded by
    * the application-end cleanup above).
    */
  def once(slot: String, df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    ensureCheckpointDir(df.sparkSession)
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.materialize: $slot")
    try df.checkpoint()
    finally sc.setJobDescription(prev)
  }
}
