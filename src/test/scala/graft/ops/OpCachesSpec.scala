package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r15 release-path contract for op-internal persists: every
  * operator that persists a multi-consumer intermediate registers it with
  * [[OpCaches]], and one `release(spark)` call after consumption drops
  * ALL of them — zero persistent RDDs left (the precedent the retired
  * LexicalScaleProbe set for scoreBulk, now engine-wide).
  */
class OpCachesSpec extends SparkSpec {
  import spark.implicits._

  private def persistentRddCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("duplicatedNgramSpans + tokenIdRows + dsirScores register; release drops all") {
    spark.sharedState.cacheManager.clearCache()
    OpCaches.release(spark): Unit // drain anything a prior suite left
    assert(persistentRddCount == 0)

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words here entirely"))
      .toDF("id", "text")

    // duplicatedNgramSpans: hashed posting persists internally
    Dedup.duplicatedNgramSpans(docs, "id", "text", 3).collect(): Unit
    // tokenIdRows: encoded-symbols frame persists internally
    val merges = Bpe.trainMerges(docs, "text", nMerges = 2)
    Bpe.tokenIdRows(docs, "id", "text", merges).collect(): Unit
    // dsirScores: raw gram posting + target counts persist internally
    Corpus.dsirScores(docs, docs.limit(1), "id", "text", buckets = 64)
      .collect(): Unit

    assert(persistentRddCount > 0,
      "expected op-internal persists to be live after consumption")
    val released = OpCaches.release(spark)
    assert(released >= 4,
      s"expected >= 4 registered caches (posting, enc, rawG, tgtC), got $released")
    assert(persistentRddCount == 0,
      "release must leave zero persistent RDDs")
    // second release is a no-op
    assert(OpCaches.release(spark) == 0)
  }

  test("register drops frames already unpersisted outside the registry") {
    spark.sharedState.cacheManager.clearCache()
    OpCaches.release(spark): Unit
    val before = persistentRddCount
    val frames = (1 to 4).map(i => spark.range(10L * i).toDF("x"))
    frames.take(3).foreach(f => OpCaches.persist(f).count(): Unit)
    assert(OpCaches.queued(spark) == 3)
    frames.take(2).foreach(_.unpersist(blocking = true): Unit)
    OpCaches.persist(frames(3)).count(): Unit
    assert(OpCaches.queued(spark) == 2)
    assert(OpCaches.release(spark) == 2)
    assert(persistentRddCount == before)
  }
}
