package vecbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The benchmark's own seeded data: a Gaussian mixture of `blobs` centers
  * (each coordinate N(0, centerScale²)) with unit Gaussian noise per row.
  * Every row is a pure function of (seed, id), so Spark writes the table
  * from `spark.range` without shipping data, and the ground truth
  * regenerates the same vectors on the driver without reading graft's
  * output. Query vectors come from the same mixture on a separate id
  * stream, so they are never table rows.
  */
final case class Corpus(seed: Long, dim: Int, blobs: Int, centerScale: Double, labels: Int) {

  @transient private lazy val centers: Array[Float] = {
    val r = new SplittableRandom(Corpus.mix(seed, -1L))
    Array.fill(blobs * dim)((r.nextGaussian() * centerScale).toFloat)
  }

  /** Fills `out` with row `id`'s vector and returns its label. */
  def row(id: Long, out: Array[Float]): Int = {
    val r = new SplittableRandom(Corpus.mix(seed, id))
    val blob = r.nextInt(blobs)
    val label = r.nextInt(labels)
    val c = centers
    var j = 0
    while (j < dim) {
      out(j) = c(blob * dim + j) + r.nextGaussian().toFloat
      j += 1
    }
    label
  }

  def vector(id: Long): Array[Float] = {
    val v = new Array[Float](dim)
    row(id, v)
    v
  }

  /** Query `j` of the query stream (disjoint from every row id). */
  def query(j: Long): Array[Float] = vector(Corpus.QueryBase + j)

  /** Rows [from, until) as a DataFrame `(id, label, emb)` in `files`
    * partitions, id-ordered within each partition (write order, which is
    * random with respect to the IVF cells).
    */
  def frame(spark: SparkSession, from: Long, until: Long, files: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, until, 1, files).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val v = new Array[Float](self.dim)
          val label = self.row(id, v)
          (id, label, v)
        }
      }
      .toDF("id", "label", "emb")
      .select(col("id"), col("label"), col("emb").cast("array<float>").as("emb"))
  }

  def write(spark: SparkSession, dir: String, from: Long, until: Long, files: Int,
      mode: String = "overwrite"): Unit =
    frame(spark, from, until, files).write.mode(mode).parquet(dir)
}

object Corpus {
  val QueryBase: Long = 1L << 40

  /** SplitMix64 finalizer over (seed, id): independent per-row streams. */
  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Exact top-k by brute force over the regenerated corpus, on the driver,
  * with no graft call. `labelMin(q)` applies the filtered shape's
  * `label >= labelMin` predicate to query q (0 = no filter).
  */
object Truth {
  final case class Hit(id: Long, dist: Double)

  def topK(
      corpus: Corpus,
      rows: Long,
      queries: IndexedSeq[Array[Float]],
      k: Int,
      labelMin: Int => Int = _ => 0,
      threads: Int = Runtime.getRuntime.availableProcessors()): IndexedSeq[Seq[Hit]] = {
    val nq = queries.length
    if (nq == 0) return IndexedSeq.empty
    val dim = corpus.dim
    val chunk = ((rows + threads - 1) / threads).max(1L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val parts = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Array[Heap]] {
          def call(): Array[Heap] = {
            val heaps = Array.fill(nq)(new Heap(k))
            val lo = t * chunk
            val hi = math.min(rows, lo + chunk)
            val v = new Array[Float](dim)
            val mins = (0 until nq).map(labelMin).toArray
            var id = lo
            while (id < hi) {
              val label = corpus.row(id, v)
              var q = 0
              while (q < nq) {
                if (label >= mins(q)) {
                  val qv = queries(q)
                  var s = 0.0
                  var j = 0
                  while (j < dim) {
                    val d = (v(j) - qv(j)).toDouble
                    s += d * d
                    j += 1
                  }
                  heaps(q).offer(s, id)
                }
                q += 1
              }
              id += 1
            }
            heaps
          }
        })
      }.map(_.get())
      (0 until nq).map { q =>
        val merged = new Heap(k)
        parts.foreach(p => p(q).drain((s, id) => merged.offer(s, id)))
        merged.sorted.map { case (s, id) => Hit(id, math.sqrt(s)) }
      }
    } finally pool.shutdownNow(): Unit
  }

  /** Bounded max-heap of the k smallest (squared distance, id) pairs. */
  final class Heap(k: Int) {
    private val d = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0
    private def less(a: Int, b: Int): Boolean = d(a) < d(b) || (d(a) == d(b) && ids(a) < ids(b))
    private def swap(a: Int, b: Int): Unit = {
      val td = d(a); d(a) = d(b); d(b) = td
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
    def offer(s: Double, id: Long): Unit =
      if (n < k) {
        d(n) = s; ids(n) = id; n += 1
        var c = n - 1
        while (c > 0 && less((c - 1) / 2, c)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
      } else if (s < d(0) || (s == d(0) && id < ids(0))) {
        d(0) = s; ids(0) = id
        var p = 0
        var done = false
        while (!done) {
          val l = 2 * p + 1
          val r = l + 1
          var m = p
          if (l < n && less(m, l)) m = l
          if (r < n && less(m, r)) m = r
          if (m == p) done = true else { swap(p, m); p = m }
        }
      }
    def drain(f: (Double, Long) => Unit): Unit = (0 until n).foreach(i => f(d(i), ids(i)))
    def sorted: Seq[(Double, Long)] = (0 until n).map(i => (d(i), ids(i))).sorted
  }
}
