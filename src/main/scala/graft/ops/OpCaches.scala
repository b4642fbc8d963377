package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-session registry of OP-INTERNAL persisted intermediates, with one
  * documented release hook — the r15 generalization of the scoreBulk
  * batch-cache registry (r13): several operators persist a corpus-derived
  * intermediate that feeds two or more consumers of their RETURNED frame
  * (cq7's resolved-link table, [[Bpe.tokenIdRows]]' encoded symbols,
  * [[Corpus.dsirScores]]' gram posting, [[Dedup.duplicatedNgramSpans]]'
  * hashed posting). The op cannot unpersist them itself — the returned
  * DataFrame still reads them lazily, and Spark's CacheManager pins every
  * persisted plan until an explicit unpersist (persist blocks are NOT
  * GC-evicted; the context cleaner only collects blocks of UNREFERENCED
  * RDDs, which a registered logical plan never becomes). In a long-lived
  * 100 TB session those are corpus-sized MEMORY_AND_DISK blocks that
  * would otherwise accumulate per call.
  *
  * Contract: after an op's result has been FULLY consumed (action run,
  * output written), call [[release]] to drop every cache ops registered
  * in that session. Releasing before consumption is safe but wasteful —
  * the result recomputes from lineage. Bench/Verify harnesses that clear
  * the session cache per repetition pay and drop these blocks anyway;
  * this hook is for loop-heavy services that keep one session alive.
  *
  * Entries are STRONG references on purpose: the persist itself already
  * pins the blocks, so the registry adds no pinning beyond what exists —
  * a weak entry would be collected before release could unpersist it,
  * silently leaking the blocks forever (see the scoreBulk registry note).
  */
object OpCaches {

  private val caches =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()

  /** Persist `df` at MEMORY_AND_DISK and register it for [[release]];
    * returns the persisted frame. The single entry point every
    * op-internal multi-consumer persist goes through.
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(df.sparkSession, p)
    p
  }

  /** Register `df` for [[release]]. Frames already unpersisted outside
    * the registry are dropped from the queue first, so a long-lived
    * session that unpersists on its own does not grow it per call.
    */
  private[graft] def register(spark: SparkSession, df: DataFrame): Unit =
    caches.synchronized {
      var q = caches.get(spark)
      if (q == null) {
        q = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
        caches.put(spark, q)
      }
      q.removeIf(_.storageLevel == StorageLevel.NONE): Unit
      q.add(df): Unit
    }

  /** How many frames are queued for [[release]] in `spark`. */
  private[graft] def queued(spark: SparkSession): Int =
    caches.synchronized(Option(caches.get(spark)).fold(0)(_.size))

  /** Unpersist every op-internal cache registered in `spark` and return
    * how many were dropped. Call AFTER the consuming action — an
    * un-consumed result recomputes from lineage (and for scoreBulk's
    * non-deterministic batch input, reintroduces the consistency hazard
    * its persist closes, so ops cannot auto-evict on your behalf).
    */
  def release(spark: SparkSession): Int = {
    val q = caches.synchronized(caches.remove(spark))
    if (q == null) 0
    else {
      var n = 0
      var df = q.poll()
      while (df != null) {
        df.unpersist(blocking = true)
        n += 1
        df = q.poll()
      }
      n
    }
  }
}
