package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for operator intermediates: whatever an operator
  * caches or cuts is released when its call returns or throws, and the
  * only frame that outlives the call is its result, which sits in
  * Spark's CacheManager — the caller's `unpersist` or
  * `spark.catalog.clearCache()` frees it.
  *
  * {{{
  * Lineage.materialized { s =>
  *   val e = s.cut(edges, eager = false)   // plan truncated to a leaf
  *   val deg = s.persisted(degrees(e))     // reused by every round
  *   rounds(e, deg)                        // persisted + counted, then
  * }                                       // e and deg are released
  * }}}
  *
  * Two kinds of intermediate:
  *  - `persisted` caches a frame (MEMORY_AND_DISK, the house level) that
  *    several consumers read;
  *  - `cut` truncates a frame's LOGICAL plan to a leaf over its computed
  *    partitions (`localCheckpoint`). Persisting makes later rounds reuse
  *    the data, but every later plan still carries the full lineage:
  *    analysis, cache lookup, AQE re-optimization and per-task plan
  *    serialization walk the whole tree, so an r-round loop over an
  *    expensive base builds an O(r · |base|) plan. On the r18/r19 gates
  *    d23_label_prop's physical plan was 51,978 lines and the gate spent
  *    more wall time in the driver than in tasks; rounds planned against
  *    a cut stay O(1) in plan size. Under AQE even a lazy cut runs the
  *    exchange stages upstream of it at call time.
  *
  * Checkpoint blocks are not in the CacheManager: `unpersist` and
  * `clearCache` cannot see them, which is why a cut must be released
  * through its scope. A frame whose cut was released cannot recompute
  * (its lineage is gone): reading it fails with Spark's missing
  * checkpoint block error rather than silently recomputing. The same
  * holds on executor loss — the budgeted-iteration tradeoff GraphX also
  * makes; these frames are node/edge-sized and the loops short.
  */
object Lineage {

  /** Records the intermediates of one operator call. */
  final class Scope private[Lineage] {
    private val held =
      scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

    /** Cache `df` at MEMORY_AND_DISK (unless it is already cached, e.g. a
      * sub-operator's result) and unpersist it when the scope closes.
      */
    def persisted(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      held += ((df, () => { df.unpersist(false); () }))
      df
    }

    /** Truncate `df`'s plan to a leaf over its computed partitions; with
      * `eager` the partitions are computed now, else by the next action.
      * The checkpoint blocks are dropped when the scope closes.
      */
    def cut(df: DataFrame, eager: Boolean): DataFrame = {
      val c = df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK)
      val rdds = c.queryExecution.analyzed.collect { case lr: LogicalRDD =>
        lr.rdd }
      held += ((c, () => rdds.foreach(_.unpersist(false))))
      c
    }

    /** Release a frame this scope recorded before the scope closes — for
      * round state that rolls forward once the next round is computed.
      */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_._1 eq df)
      require(i >= 0, "release of a frame this scope did not record")
      held.remove(i)._2()
    }

    private[Lineage] def releaseAll(): Unit = {
      held.reverseIterator.foreach(_._2())
      held.clear()
    }
  }

  /** Run `body`; everything it recorded through the scope is released
    * when it returns or throws.
    */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.releaseAll()
  }

  /** `scoped`, with the result persisted and counted before the release:
    * the result may be a cut, or read from the scope's intermediates,
    * and stays readable after them. The caller owns the result's cache.
    */
  def materialized(body: Scope => DataFrame): DataFrame = scoped { s =>
    val out = body(s).persist(StorageLevel.MEMORY_AND_DISK)
    try { out.count(); out }
    catch { case e: Throwable => out.unpersist(false); throw e }
  }
}
