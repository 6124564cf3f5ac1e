package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Release handle for persisted frames created INSIDE lazy operators.
  *
  * Several operators ([[graft.operators.Dedupe.minhashCandidates]],
  * [[graft.operators.Dedupe.verifyJaccardBySets]], the SimHash/SRP
  * band joins) must `persist()` an intermediate frame because a
  * differently-aliased self-join consumes it twice and Catalyst does
  * not reuse the exchange. The operator returns a LAZY DataFrame, so
  * it cannot unpersist before the caller materializes — and without a
  * hook, library/notebook callers accumulate cached frames for the
  * session lifetime (`clearCache()` is a sledgehammer that also evicts
  * the caller's own caches). [[graft.operators.MergeUpsert.urlConflictFilterBloom]]
  * likewise `localCheckpoint()`s its staged batch, which `clearCache()`
  * cannot free at all.
  *
  * Pattern: the caller passes a handle, materializes the operator's
  * output, then releases —
  * {{{
  * val caches = CacheHandle()
  * val pairs = Dedupe.minhashCandidates(sig, 64, 4, caches)
  * pairs.write.parquet(out)   // materialize
  * caches.release()           // drop the operator's internal caches
  * }}}
  *
  * The default [[CacheHandle.session]] handle tracks nothing: frames
  * stay cached until `clearCache()` or session end (the pre-handle
  * behavior, fine for short-lived jobs and the bench harness, which
  * clears the cache between queries).
  */
final class CacheHandle private (tracking: Boolean) {
  private val releases =
    scala.collection.mutable.ArrayBuffer.empty[Boolean => Unit]

  private def register(df: DataFrame)(free: Boolean => Unit): DataFrame =
    if (!tracking) df else synchronized { releases += free; df }

  /** Record a frame the operator persisted; returns it unchanged. */
  private[graft] def track(df: DataFrame): DataFrame =
    register(df)(df.unpersist(_))

  /** Record a frame the operator `localCheckpoint()`ed; returns it
    * unchanged. Its blocks are RDD persistence, which `unpersist()` on
    * the frame does not reach.
    */
  private[graft] def trackCheckpoint(df: DataFrame): DataFrame =
    register(df)(CheckpointBridge.release(df, _))

  /** Free every tracked frame (idempotent). Call only after the
    * operator's output has been materialized — released cache blocks
    * are recomputed from source if a plan reads them again, and a
    * released checkpoint cannot be read at all.
    */
  def release(blocking: Boolean = false): Unit = synchronized {
    releases.foreach(_(blocking))
    releases.clear()
  }
}

object CacheHandle {
  /** A live handle: operators register their internal persists on it. */
  def apply(): CacheHandle = new CacheHandle(true)

  /** Materialize a persisted frame that a SINGLE downstream action
    * consumes more than once. A lazy persist is NOT enough there:
    * AQE submits independent query stages concurrently, and stages
    * racing to compute a not-yet-materialized cached plan EACH execute
    * its full lineage — the cache dedupes storage, not concurrent
    * compute. Measured on q59 at sf0.1: the verified-pair pipeline ran
    * twice (2 × 1.3 s, identical job fingerprints) because the two
    * edge-doubling arms raced, and the banded self-joins in
    * minhashCandidates / simhashNearDupPairs / srpNearDupPairs race
    * the same way. One count() here populates the cache while this
    * plan is still the only consumer; every later stage reads cached
    * batches. At cluster scale this adds no compute — the
    * materialization pass was required anyway for the cache to serve
    * both consumers — it only moves the barrier earlier.
    */
  def eager(df: DataFrame): DataFrame = { df.count(); df }

  /** No-op handle (the default): internal persists live until
    * `clearCache()`/session end, as before r9.
    */
  val session: CacheHandle = new CacheHandle(false)
}
