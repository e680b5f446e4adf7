package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Registry for per-call persisted intermediates (the shingle
  * explosions, LSH signature frames, …) so long-lived sessions don't
  * accumulate pinned storage: library operators register through
  * [[cached]]; callers that run many operators in one session
  * (Verify/Bench do) call [[clear]] after each terminal action.
  *
  * Distinct from [[Memo]], which persists deliberately SHARED frames
  * (base tables, the graph edge list) for the whole session lifetime —
  * clear() never touches those.
  */
object Caches {
  private val tracked =
    new java.util.IdentityHashMap[SparkSession, ArrayBuffer[DataFrame]]()

  /** Persist `df` and register it for a later [[clear]]. Registry
    * entries of stopped sessions are dropped on the way. */
  private[graft] def cached(df: DataFrame): DataFrame = {
    tracked.synchronized {
      val it = tracked.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var buf = tracked.get(df.sparkSession)
      if (buf == null) { buf = ArrayBuffer.empty; tracked.put(df.sparkSession, buf) }
      buf += df
    }
    df.persist()
  }

  /** Unpersist every intermediate registered by this session's library
    * calls since the last clear. Safe mid-plan: unpersist only drops
    * the cache, never the data lineage. BLOCKING: with async removal
    * a 174-query sweep queues removal work faster than it drains, so
    * block counts still grow sweep-long (one strand of the r7 d09
    * contention); callers run clear outside any timed region, so the
    * synchronous wait costs the benchmark nothing. */
  def clear(spark: SparkSession): Unit = tracked.synchronized {
    Option(tracked.remove(spark)).foreach(_.foreach(_.unpersist(blocking = true)))
  }
}
