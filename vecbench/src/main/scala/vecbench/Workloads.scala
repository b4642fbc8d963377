package vecbench

/** One benchmark workload: the table it serves, how it is laid out and
  * indexed, and the closed-loop load sent to it.
  *
  * @param rows        rows of the served table during the measured loop
  * @param files       parquet files of that table
  * @param byCell      rewrite the table in IVF-cell order (`Layout.writeByCell`)
  * @param quantized   build the sq8 and pq code sidecars in set-up
  * @param clients     closed-loop query clients, each on its own session
  * @param mix         (query shape, weight) of the seeded request stream
  * @param zipfPool    > 0: query vectors drawn Zipf-skewed from a pool of
  *                    this many vectors; 0: every query vector is unique
  * @param cacheFrac   decoded-index cache budget as a share of the
  *                    decoded index size (None = graft's default budget)
  * @param setupReps   complete set-ups per run (the median is reported)
  */
final case class Workload(
    name: String,
    rows: Long,
    files: Int,
    byCell: Boolean,
    quantized: Boolean,
    clients: Int,
    mix: Seq[(String, Double)],
    zipfPool: Int,
    cacheFrac: Option[Double],
    setupReps: Int) {
  def shapes: Seq[String] = mix.map(_._1)
}

object Workload {
  val Dim = 128
  val Blobs = 64
  /** Blob centers N(0, 0.5²) per coordinate under unit noise: the blobs
    * overlap, so recall@100 at nprobe 16 stays well below 1.
    */
  val CenterScale = 0.5
  val Labels = 16
  /** Filtered shape: `WHERE label >= 8`, half the rows. */
  val LabelMin = 8
  val K = 100
  val Nprobe = 16
  /** Post-loop appends: batches of this many rows in this many files. */
  val Batches = 2
  /** Seconds of closed-loop warm-up before the measured loop. The JIT
    * keeps cutting request latency for about 15 s of load: after a 3 s
    * warm-up the loop's first requests ran twice as slow as its last, and
    * after 8 s the first 5 s of the loop still ran 15% slower.
    */
  val WarmSeconds = 10
  /** Timed builds of the served table after the loop, before the appends.
    * A build takes about 1.1 s, and the first of them ran up to 40% slower
    * than the others; with 3 builds the run-to-run spread of their median
    * reached 0.21.
    */
  val Builds = 5
  val BatchRows = 5000
  val BatchFiles = 2
  val PqSubspaces = Dim / 8

  /** Zipf exponent of the pooled query vectors. Vectors repeat (the most
    * popular one is about 9% of requests), yet no handful of them decides
    * a run's latency, as happened at exponent 1.
    */
  val ZipfExponent = 0.6

  val SqlShapes = Set("float", "sq8", "pq", "filtered")

  val all: Seq[Workload] = Seq(
    // the paper's SQL path on the layout IVF is designed for: planner,
    // rewrite rule, tier scorers and plan cache; the whole index fits the
    // decoded-index cache
    Workload(
      "sql-topk-bycell",
      rows = 48000, files = 4, byCell = true, quantized = true, clients = 2,
      mix = Seq("float" -> 0.50, "sq8" -> 0.15, "pq" -> 0.15, "filtered" -> 0.20),
      zipfPool = 64, cacheFrac = None, setupReps = 1),
    // the programmatic API on write-order data: candidates scatter over
    // every page and the index exceeds the decoded-index cache, so
    // selective fetch and index decode work and the SQL rule does not
    Workload(
      "api-topk-scattered",
      rows = 48000, files = 4, byCell = false, quantized = false, clients = 2,
      mix = Seq("search" -> 0.5, "indexed" -> 0.5),
      zipfPool = 0, cacheFrac = Some(0.25), setupReps = 2))

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
