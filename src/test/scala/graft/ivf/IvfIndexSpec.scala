package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {

  // Reference codec fixture: /root/reference/src/ivf/index.rs:496-511
  private def fixture = IvfIndex(
    dim = 3,
    nClusters = 2,
    centroids = Array(1f, 2f, 3f, 4f, 5f, 6f),
    invertedLists = Array(Array(0, 2, 4), Array(1, 3)))

  test("serialize → deserialize roundtrip is field-identical") {
    val restored = IvfIndex.fromBytes(fixture.toBytes)
    assert(restored.dim == 3)
    assert(restored.nClusters == 2)
    assert(restored.centroids.toSeq == fixture.centroids.toSeq)
    assert(restored.invertedLists.map(_.toSeq).toSeq ==
      fixture.invertedLists.map(_.toSeq).toSeq)
  }

  test("byte layout matches the reference format exactly") {
    val bytes = fixture.toBytes
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(buf.getInt == 3) // dim u32 LE
    assert(buf.getInt == 2) // n_clusters u32 LE
    assert(buf.getFloat == 1f) // centroids row-major f32 LE
    buf.position(8 + 6 * 4)
    assert(buf.getInt == 3) // list 0 length
    assert(buf.getInt == 0)
    assert(buf.getInt == 2)
    assert(buf.getInt == 4)
    assert(buf.getInt == 2) // list 1 length
    assert(bytes.length == 8 + 6 * 4 + (4 + 3 * 4) + (4 + 2 * 4))
  }

  test("framing carries PQ_VECTOR1 magic + u64 LE length") {
    val framed = IvfIndex.frame(fixture.toBytes)
    assert(new String(framed.take(10), "UTF-8") == "PQ_VECTOR1")
    val len = ByteBuffer.wrap(framed, 10, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    assert(len == fixture.toBytes.length.toLong)
    val restored = IvfIndex.unframe(framed)
    assert(restored.dim == 3 && restored.nClusters == 2)
  }

  test("unframe rejects bad magic") {
    val framed = IvfIndex.frame(fixture.toBytes)
    framed(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](IvfIndex.unframe(framed))
  }

  test("a corrupt posting-list length is refused, not allocated") {
    // list 0's length sits right after the 2×3 centroid matrix
    def withList0Len(len: Int): Array[Byte] = {
      val bytes = fixture.toBytes
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(8 + 6 * 4, len)
      bytes
    }
    for (len <- Seq(-1, Int.MinValue, 1000, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](IvfIndex.fromBytes(withList0Len(len)))
      assert(e.getMessage.contains("corrupt or truncated index"), e.getMessage)
    }
    // a payload cut inside list 1's length field
    val cut = fixture.toBytes.dropRight(2 * 4 + 2)
    val e = intercept[IllegalArgumentException](IvfIndex.fromBytes(cut))
    assert(e.getMessage.contains("corrupt or truncated index"), e.getMessage)
  }

  test("a posting ordinal outside [0, total postings) is refused") {
    // the fixture's 5 postings hold ordinals 0..4; the last int is list 1's
    // last ordinal
    for (ord <- Seq(5, Int.MaxValue, -1)) {
      val bytes = fixture.toBytes
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(bytes.length - 4, ord)
      val e = intercept[IllegalArgumentException](IvfIndex.fromBytes(bytes))
      assert(e.getMessage.contains(s"posting ordinal $ord is outside [0, 5)"), e.getMessage)
      assert(e.getMessage.contains("corrupt or truncated index"), e.getMessage)
    }
  }

  test("probe returns nprobe closest centroids ascending by distance") {
    val idx = fixture
    // query near centroid 1 (4,5,6)
    assert(idx.findClosestCentroids(Array(4f, 5f, 6f), 1).toSeq == Seq(1))
    assert(idx.findClosestCentroids(Array(4f, 5f, 6f), 2).toSeq == Seq(1, 0))
    // nprobe clamps to nClusters
    assert(idx.findClosestCentroids(Array(0f, 0f, 0f), 99).length == 2)
    assert(idx.candidateRows(Array(1f, 2f, 3f), 1).toSeq == Seq(0, 2, 4))
  }

  test("kmeans is deterministic for a fixed seed") {
    val rnd = new java.util.Random(7)
    val data = Array.fill(200 * 8)(rnd.nextFloat())
    val a = KMeans.fit(data.clone(), 8, KMeans.Params(nClusters = 5, seed = 42))
    val b = KMeans.fit(data.clone(), 8, KMeans.Params(nClusters = 5, seed = 42))
    assert(a.toSeq == b.toSeq)
    val c = KMeans.fit(data.clone(), 8, KMeans.Params(nClusters = 5, seed = 43))
    assert(a.toSeq != c.toSeq) // different seed, different init
  }

  test("kmeans warm start refines the given centroids, no RNG re-seed") {
    val rnd = new java.util.Random(11)
    val data = Array.fill(200 * 8)(rnd.nextFloat())
    val cold = KMeans.fit(data.clone(), 8, KMeans.Params(nClusters = 5, seed = 42))
    // warm-starting from a converged solution is a fixed point
    val stay = KMeans.fit(
      data.clone(), 8, KMeans.Params(nClusters = 5, init = Some(cold)))
    assert(stay.toSeq == cold.toSeq)
    // warm-starting from arbitrary centroids is deterministic regardless of
    // seed (no RNG draw on the warm path)
    val init = Array.fill(5 * 8)(rnd.nextFloat())
    val w1 = KMeans.fit(data.clone(), 8, KMeans.Params(5, seed = 1, init = Some(init.clone())))
    val w2 = KMeans.fit(data.clone(), 8, KMeans.Params(5, seed = 99, init = Some(init.clone())))
    assert(w1.toSeq == w2.toSeq)
    // wrong shape fails fast
    intercept[IllegalArgumentException] {
      KMeans.fit(data.clone(), 8, KMeans.Params(5, init = Some(new Array[Float](8))))
    }
  }

  test("round-robin candidate cap is fair across files") {
    val perFile = Seq(
      "a" -> Array(1, 2, 3, 4, 5),
      "b" -> Array(10, 20),
      "c" -> Array(100, 200, 300))
    // one candidate per file per sweep (reference access.rs:214-242):
    // sweep1 takes a:1 b:10 c:100, sweep2 takes a:2 b:20 c:200 → cap 6
    val capped = VectorTopK.capRoundRobin(perFile, 6)
    assert(capped.map(_._2.toSeq) == Seq(Seq(1, 2), Seq(10, 20), Seq(100, 200)))
    // a exhausted mid-sweep: remaining files keep draining
    val skew = VectorTopK.capRoundRobin(Seq("a" -> Array(1), "b" -> Array(10, 20, 30)), 3)
    assert(skew.map(_._2.toSeq) == Seq(Seq(1), Seq(10, 20)))
    val uncapped = VectorTopK.capRoundRobin(perFile, 100)
    assert(uncapped.map(_._2.length).sum == 10)
  }

  test("counts-only roundRobinQuotas matches capRoundRobin's take counts") {
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val perFile = Seq.tabulate(1 + rnd.nextInt(6))(i =>
        s"f$i" -> Array.tabulate(rnd.nextInt(12))(identity))
      val cap = 1 + rnd.nextInt(25)
      val capped = VectorTopK.capRoundRobin(perFile, cap)
      val quotas = VectorTopK
        .roundRobinQuotas(perFile.map(_._2.length.toLong).toArray, cap.toLong)
      assert(capped.map(_._2.length.toLong) == quotas.toSeq)
    }
  }

  test("roundRobinQuotas closed form: edge cases and huge caps") {
    import VectorTopK.roundRobinQuotas
    assert(roundRobinQuotas(Array.emptyLongArray, 10L).isEmpty)
    assert(roundRobinQuotas(Array(3L, 5L), 0L).toSeq == Seq(0L, 0L))
    // cap >= total: everything taken
    assert(roundRobinQuotas(Array(3L, 5L), Long.MaxValue).toSeq == Seq(3L, 5L))
    // a dominant file + a huge cap must not iterate cap times: quotas are
    // level-filled (small files saturate, the big one absorbs the rest)
    val big = roundRobinQuotas(Array(1L << 40, 7L, 2L), 1000000L)
    assert(big.toSeq == Seq(1000000L - 9L, 7L, 2L))
    assert(big.sum == 1000000L)
    // partial round goes to the FIRST unsaturated files in index order
    assert(roundRobinQuotas(Array(4L, 4L, 4L), 7L).toSeq == Seq(3L, 2L, 2L))
  }
}
