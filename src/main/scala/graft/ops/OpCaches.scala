package graft.ops

import scala.jdk.CollectionConverters._

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
  * Each entry carries its OWNER, the op family that registered it:
  * [[release]] with an owner drops only that family's caches (what
  * `Lexical.releaseBatchCaches` does, so a bulk-scoring loop cannot evict
  * another op's live intermediates); without one it drops every entry.
  *
  * Entries are STRONG references on purpose: the persist itself already
  * pins the blocks, so the registry adds no pinning beyond what exists —
  * a weak entry would be collected before release could unpersist it,
  * silently leaking the blocks forever (see the scoreBulk registry note).
  */
object OpCaches {

  /** The owner of every entry registered without one. */
  private val DefaultOwner = "ops"

  private val caches =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]]()

  /** Persist `df` at MEMORY_AND_DISK and register it for [[release]];
    * returns the persisted frame. The single entry point every
    * op-internal multi-consumer persist goes through.
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(df.sparkSession, p)
    p
  }

  /** Register `df` for [[release]] under `owner`. Frames already
    * unpersisted outside the registry are dropped from the queue first, so
    * a long-lived session that unpersists on its own does not grow it per
    * call.
    */
  private[graft] def register(
      spark: SparkSession, df: DataFrame, owner: String = DefaultOwner): Unit =
    caches.synchronized {
      var q = caches.get(spark)
      if (q == null) {
        q = new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()
        caches.put(spark, q)
      }
      q.removeIf(_._2.storageLevel == StorageLevel.NONE): Unit
      q.add((owner, df)): Unit
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
  def release(spark: SparkSession): Int =
    unpersist(caches.synchronized(Option(caches.remove(spark)).toSeq.flatMap(drain(_, _ => true))))

  /** [[release]] of only the caches `owner` registered; the others stay. */
  private[graft] def release(spark: SparkSession, owner: String): Int =
    unpersist(caches.synchronized(
      Option(caches.get(spark)).toSeq.flatMap(drain(_, _ == owner))))

  private def drain(
      q: java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)],
      take: String => Boolean): Seq[DataFrame] = {
    val taken = q.iterator().asScala.filter(e => take(e._1)).toList
    taken.foreach(q.remove)
    taken.map(_._2)
  }

  private def unpersist(frames: Seq[DataFrame]): Int = {
    frames.foreach(_.unpersist(blocking = true))
    frames.size
  }
}
