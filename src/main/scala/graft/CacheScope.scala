package graft

import org.apache.spark.sql.DataFrame

/** Lifecycle registry for operator-internal `persist()` calls.
  *
  * Several operators (MinHash-LSH, winnowing, group similarity, the A3
  * gap-fill query) persist an intermediate relation that every
  * downstream branch of their plan re-reads. The operator cannot
  * unpersist it itself — the returned DataFrame is lazy, so the cache
  * must survive until the CALLER runs its terminal action; unreleased,
  * a long-lived session accumulates cached blocks until LRU eviction.
  *
  * Contract: operators register intermediates via [[track]]; whoever
  * owns the session drops them all with [[releaseAll]] after the
  * consuming action. Verify and Bench do this after every query's
  * sink/count, so the gate loop holds at most one query's cache at a
  * time.
  */
object CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and register it for later release. */
  def track(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    tracked += p
    p
  }

  /** Register an ALREADY-persisted relation for release without
    * re-persisting it — the registration path for
    * `localCheckpoint()` results (checkpointing persists as part of
    * truncating lineage, and a second `persist()` at a different
    * level would throw). Release semantics identical to [[track]]:
    * `unpersist` drops the checkpoint blocks. */
  def trackPersisted(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df
  }

  /** Unpersist everything currently registered. */
  def releaseAll(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking))
    tracked.clear()
  }

  /** Number of currently tracked (possibly cached) relations. */
  def trackedCount: Int = synchronized(tracked.size)
}
