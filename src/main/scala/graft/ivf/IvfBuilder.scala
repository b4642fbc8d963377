package graft.ivf

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels

/** Distributed IVF index construction over a Parquet table.
  *
  * Mirrors the reference's build pipeline (`/root/reference/src/ivf/
  * parquet.rs:22-103`, `src/ivf/index.rs:152-214`) re-expressed for Spark's
  * execution model:
  *
  *  1. one per-file validation pass (null vectors / null elements /
  *     inconsistent dims / a non-float leaf rejected, like
  *     `parquet.rs:241-279`): each task summarizes one file's column and
  *     the driver merges the summaries and refuses before anything is
  *     written;
  *  2. centroids trained ONCE on a seeded global sample collected to the
  *     driver (the reference trains on a ≤100k sample per file; sharing one
  *     centroid set across all files of a table keeps driver work O(sample),
  *     not O(files), at 100 TB — each per-file index still stores its own
  *     copy, so the on-disk format stays reference-compatible);
  *  3. a per-file assignment pass (broadcast centroids, one task per data
  *     file, no shuffle) that streams the file's vectors, builds its
  *     inverted lists and writes its sidecars FROM THE EXECUTOR — the
  *     driver never holds more than per-file stats, like the reference's
  *     file-by-file assignment (`index.rs:189-206`). Row ids are the
  *     file-local ordinals, matching the reference's u32 ordinals.
  *
  * Every per-file pass (validate, assign, code encode, radii backfill,
  * drift histogram) reads through [[SelectiveFetch.scanFile]], the same
  * page decoder and `.crc`-verified reads as search; its parallelism is the
  * file count. Only the training samples and the distributed Lloyd rounds
  * read the Spark [[scan]].
  *
  * Determinism: fixed seed → fixed sample (sorted before the driver-side
  * k-means) → fixed centroids → fixed assignment; inverted lists ascending,
  * since each file streams in ordinal order (the reference gets that from
  * contiguous chunking, `index.rs:193-206`).
  */
object IvfBuilder {

  /** `warmStart`: optional flat (k × dim) centroid matrix — Lloyd refines
    * these instead of re-seeding k-means++ (k is then taken from the
    * matrix). Used by [[extendOrRetrain]]'s retrain path.
    *
    * `distributedIters`: full-corpus Lloyd iterations AFTER the driver-
    * sample training. The sample (≤100k rows) seeds well but can misplace
    * centroids when the corpus is far larger than the sample — each
    * distributed iteration re-assigns EVERY vector (broadcast centroids,
    * map-side partial sums, `treeAggregate` merge) and recomputes means, so
    * centroid quality converges on the true distribution while the driver
    * only ever holds one k×dim accumulator. `-1` (default) = AUTO: on a
    * corpus at least 10× the training sample the build caps the
    * driver-sample Lloyd at [[AutoSampleIters]] iterations and runs up to
    * [[AutoDistributedIters]] distributed rounds with the [[AutoSseRelTol]]
    * convergence stop instead (round count chosen by the data) — the driver
    * k-means is the measured build bottleneck at that scale (272 s of a
    * 5M×256 build, round-9 BENCHNOTES) and is single-threaded in
    * k·sample·dim·iters, while a distributed round is one parallel corpus
    * scan; below the ratio (or when the sample IS the corpus) auto is
    * sample-only, so small-table builds are bit-unchanged. `0` = explicit
    * sample-only (the reference behavior); `>0` = explicit distributed
    * rounds at full `maxIters` sample training. Index EXACTNESS is
    * unaffected either way (probes are exhaustive-correct under any
    * centroids); this moves the recall/candidate-volume curve at
    * production nprobe. Centroids are deterministic for a fixed file
    * layout (fixed partitioning → fixed merge tree); re-sharding the
    * input may move results by float rounding.
    */
  final case class Config(
      column: String,
      nClusters: Option[Int] = None,
      maxIters: Int = 20,
      seed: Long = 42L,
      warmStart: Option[Array[Float]] = None,
      distributedIters: Int = -1)

  /** Max distributed Lloyd rounds the AUTO policy may run. The SSE-delta
    * stop ([[AutoSseRelTol]]) usually ends the loop earlier — the round
    * count is chosen by the data, not fixed (the r11 5M probe showed the
    * SSE curve still descending after the old fixed 3 rounds, while
    * near-converged seeds were paying corpus scans that bought nothing).
    */
  val AutoDistributedIters: Int = 10

  /** AUTO's convergence stop: end the distributed loop when a round
    * improves full-corpus assignment SSE by less than this relative
    * fraction. 0.5% per round is below what moves recall at production
    * nprobe, and each avoided round is a full corpus scan — the dominant
    * marginal cost of a 100 TB build. Explicit `distributedIters > 0` runs
    * exactly the configured rounds (no early stop), preserving the
    * documented determinism contract for explicit configs.
    */
  val AutoSseRelTol: Double = 0.005

  /** Driver-sample Lloyd iteration cap while AUTO distributed rounds run
    * (the sample only needs to SEED well; the corpus rounds converge it).
    */
  val AutoSampleIters: Int = 5

  /** Training-sample cap (reference index.rs:172-174 clamps to ≤100k). */
  val MaxTrainSample: Long = 100000L

  /** AUTO engages distributed Lloyd when the sample was truncated BY THE
    * [[MaxTrainSample]] CAP and the corpus is ≥10× the sample — below that
    * the 5%-rule sample already represents the distribution and the extra
    * corpus scans buy little. The cap check matters: under the 5% rule
    * `n = 20·sampleSize`, so a bare `n ≥ 10·sampleSize` guard is vacuously
    * true and would engage auto on EVERY build down to the smallest tables,
    * breaking the "small-table builds are bit-unchanged" contract (this was
    * the r11 guard's bug — caught by review, fixed with the fixture-scale
    * no-engage spec). Pure, so the policy is spec-testable without a
    * 1M-row fixture.
    */
  private[ivf] def resolveDistributedIters(
      configured: Int, n: Long, sampleSize: Long): (Int, Boolean) = {
    require(
      configured >= -1,
      s"distributedIters $configured is not in the documented domain: " +
        "-1 = auto, 0 = sample-only, >0 = explicit distributed rounds")
    if (configured >= 0) (configured, false)
    else if (sampleSize >= MaxTrainSample && n >= 10L * sampleSize)
      (AutoDistributedIters, true)
    else (0, false)
  }

  final case class BuildResult(
      files: Map[String, Long], // data file -> rows indexed
      dim: Int,
      nClusters: Int,
      centroids: Array[Float]) {
    def numRows: Long = files.values.sum
  }

  /** One task per data file: `f(file)` runs on an executor; no shuffle. */
  private[ivf] def perFile[T: ClassTag](spark: SparkSession, files: Seq[String])(
      f: String => T): RDD[T] =
    spark.sparkContext.parallelize(files, math.max(files.size, 1)).map(f)

  /** Validation from reference `parquet.rs:241-279`: fail on null vectors,
    * null elements, zero-length or inconsistent dims, or a leaf that is not
    * float/double. One task per file summarizes its column
    * ([[SelectiveFetch.scanFile]]); the driver merges the summaries and
    * raises. Returns (rowCount, dim); files without rows pass with dim 0
    * (they get empty sidecars), so a pass that needs vectors checks the
    * row count itself.
    */
  private[ivf] def validate(spark: SparkSession, files: Seq[String], column: String): (Long, Int) = {
    val summaries = perFile(spark, files) { f =>
      try Right(SelectiveFetch.scanFile(f, column)(null))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    }.collect()
    summaries.collectFirst { case Left(msg) => msg }
      .foreach(msg => throw new IllegalArgumentException(msg))
    val s = summaries.collect { case Right(s) => s }
      .foldLeft(SelectiveFetch.ColumnSummary.Empty)(_ merge _)
    if (s.rows == 0L) return (0L, 0)
    require(s.nullVectors == 0L, s"null vectors in column '$column'")
    require(s.nullElements == 0L, s"null elements in column '$column'")
    require(s.minDim == s.maxDim, s"inconsistent vector dims: [${s.minDim}, ${s.maxDim}]")
    require(s.minDim > 0, "zero-length vectors")
    (s.rows, s.minDim)
  }

  /** The Spark scan behind the training samples and the distributed Lloyd
    * rounds: `(_file, _ri, _vec)` — the data file, its file-local row
    * ordinal (`_metadata.row_index`, the reference's u32 ordinal) and the
    * embedding cast to `array<float>`.
    */
  private[ivf] def scan(spark: SparkSession, path: String, column: String): DataFrame =
    spark.read
      .parquet(path)
      .select(
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_ri"),
        col(column).cast("array<float>").as("_vec"))

  /** Per-cell radius bound: the max member-to-centroid distance (true L2,
    * rounded UP so the stored bound never understates a member's distance).
    */
  private def radii(maxDistSq: Array[Float]): Array[Float] =
    maxDistSq.map(d => Math.nextUp(math.sqrt(d.toDouble).toFloat))

  /** The one executor-side pass behind every dense code sidecar (`.sq8`,
    * `.pq`, `.pqr`): one task per file streams its vectors, `encode`s each
    * to `width` bytes laid out densely in row-ordinal order, and writes its
    * `sidecar` file — `fileBytes(codes)` — FROM THE EXECUTOR. Per-file
    * memory is the codes; driver state is O(files). Returns file → rows
    * encoded; a file without rows gets an empty sidecar.
    */
  private[ivf] def writeCodes(
      spark: SparkSession,
      files: Seq[String],
      store: IndexStore,
      column: String,
      sidecar: IndexStore.Sidecar,
      width: Int)(
      encode: Array[Float] => Array[Byte],
      fileBytes: Array[Byte] => Array[Byte]): Map[String, Long] =
    perFile(spark, files) { file =>
      val codes = new ArrayBuilder.ofByte
      var rows = 0L
      SelectiveFetch.scanFile(file, column) { (ri, vec) =>
        require(
          ri <= Int.MaxValue,
          s"row ordinal $ri in $file exceeds the sidecar's 2^31 rows-per-file limit " +
            "(header stores nRows as i32) — split the file")
        require(ri == rows, s"row $ri of $file is out of order or follows a skipped row")
        // rows·width must fit one JVM byte array
        require((rows + 1) * width <= Int.MaxValue,
          s"$file holds over $rows rows × $width code bytes — over the " +
            "2 GiB single-array sidecar limit; split the file")
        val code = encode(vec)
        require(code.length == width, s"code width ${code.length} != $width at $file:$ri")
        codes.addAll(code)
        rows += 1
      }
      IndexStore.writeAtomic(store.path(file, column, sidecar), fileBytes(codes.result()))
      (file, rows)
    }.collect().toMap

  /** @param embed true: write each file's index INSIDE the parquet footer
    *              region (reference-native layout, mutates the data files —
    *              they must be writable); false: sidecar files in `store`.
    */
  def build(
      spark: SparkSession,
      path: String,
      config: Config,
      store: IndexStore = IndexStore.default,
      embed: Boolean = false): BuildResult = {
    import spark.implicits._
    require(config.column.nonEmpty, "embedding column name must be non-empty")
    require(config.maxIters > 0, "max_iters must be > 0")
    config.nClusters.foreach(k => require(k > 0, "n_clusters must be > 0"))

    val files = IndexManager.listFiles(spark, path)
    val (n, dim) = validate(spark, files, config.column)
    require(n > 0, "cannot build IVF index over zero vectors")
    val vecs = scan(spark, path, config.column)
    val k = config.warmStart match {
      case Some(warm) =>
        require(
          warm.length % dim == 0 && warm.length > 0,
          s"warm-start centroids length ${warm.length} not a positive multiple of dim $dim")
        val kw = warm.length / dim
        config.nClusters.foreach(c => require(
          c == kw, s"n_clusters $c != warm-start centroid count $kw"))
        kw
      // default k = √n (reference index.rs heuristic), capped at 65536:
      // past n ≈ 4·10⁹ an uncapped √n would exceed the 100k training-sample
      // bound (k-means would fail deep inside fit with a confusing error)
      // and the broadcast centroid matrix would grow unboundedly — tables
      // that large should choose nClusters deliberately (it is also the
      // per-cell candidate granularity)
      case None => config.nClusters.getOrElse(
        math.min(math.ceil(math.sqrt(n.toDouble)).toLong, 65536L).toInt)
    }
    require(k <= n, s"n_clusters $k cannot exceed number of vectors $n")
    require(
      k.toLong <= 100000L,
      s"n_clusters $k exceeds the 100k training-sample bound — at this scale " +
        "pick nClusters explicitly (candidate granularity and centroid-broadcast " +
        "size are deliberate choices, not a √n default)")

    // Training sample: clamp(5% of n, [k, 100k]) — reference index.rs:172-174.
    val sampleSize = math.min(math.max(math.max(n / 20L, 1L), k.toLong), MaxTrainSample)
    val trainRows: Array[Array[Float]] =
      if (sampleSize >= n) {
        vecs.sort("_file", "_ri").select("_vec").as[Array[Float]].collect()
      } else {
        val frac = math.min(1.0, (sampleSize.toDouble * 1.5) / n.toDouble)
        val sampled = vecs
          .sample(withReplacement = false, frac, config.seed)
          .sort("_file", "_ri")
          .select("_vec")
          .as[Array[Float]]
          .take(sampleSize.toInt)
        if (sampled.length >= k) sampled
        else vecs.sort("_file", "_ri").select("_vec").as[Array[Float]].take(sampleSize.toInt)
      }

    val flat = new Array[Float](trainRows.length * dim)
    var r = 0
    while (r < trainRows.length) {
      System.arraycopy(trainRows(r), 0, flat, r * dim, dim)
      r += 1
    }
    val (distIters, autoEngaged) =
      resolveDistributedIters(config.distributedIters, n, sampleSize)
    val sampleIters =
      if (autoEngaged) math.min(config.maxIters, AutoSampleIters) else config.maxIters
    val seeded = KMeans.fit(
      flat, dim, KMeans.Params(k, sampleIters, config.seed, config.warmStart))
    val centroids =
      if (distIters <= 0) seeded
      else lloydDistributed(
        spark, vecs, seeded, dim, k, distIters,
        relTol = if (autoEngaged) AutoSseRelTol else 0.0)

    val written = assignAndWrite(spark, files, config.column, centroids, dim, k, store, embed)
    BuildResult(written, dim, k, centroids)
  }

  /** Full-corpus Lloyd iterations: one linear pass per iteration —
    * broadcast centroids, per-partition (sum, count) accumulators,
    * `treeAggregate` merge (driver receives ONE k×dim double matrix, never
    * per-partition partials) — then the mean update on the driver. Empty
    * cells keep their previous centroid (standard Lloyd practice; k-means++
    * seeding makes them rare). This is the scale path past sample-only
    * training: cost is `iters` corpus scans, driver state is O(k·dim).
    */
  private[ivf] def lloydDistributed(
      spark: SparkSession,
      vecs: DataFrame,
      seed: Array[Float],
      dim: Int,
      k: Int,
      iters: Int,
      relTol: Double = 0.0): Array[Float] =
    lloydDistributedWithCurve(spark, vecs, seed, dim, k, iters, relTol)._1

  /** [[lloydDistributed]] + the per-round assignment-SSE curve (SSE of the
    * round's assignments against its PRE-update centroids, accumulated in
    * the same aggregate pass — one extra dim-loop per vector, no extra
    * scan). `relTol > 0` adds the convergence stop: the loop ends once a
    * round improved SSE by less than `relTol` relatively, so the round
    * count is data-chosen with `iters` as the hard cap; `relTol = 0` (the
    * explicit-config path) runs exactly `iters` rounds — even float-noise
    * SSE wobble never cuts a configured round.
    */
  private[ivf] def lloydDistributedWithCurve(
      spark: SparkSession,
      vecs: DataFrame,
      seed: Array[Float],
      dim: Int,
      k: Int,
      iters: Int,
      relTol: Double = 0.0): (Array[Float], List[Double]) = {
    import spark.implicits._
    var cents = seed
    var it = 0
    var prevSse = Double.NaN
    val curve = List.newBuilder[Double]
    var stop = false
    while (it < iters && !stop) {
      val bc = spark.sparkContext.broadcast(cents)
      val zero = (new Array[Double](k * dim), new Array[Long](k), new Array[Double](1))
      val (sums, counts, sseAcc) = vecs
        .select(col("_vec"))
        .as[Array[Float]]
        .rdd
        .treeAggregate(zero)(
          seqOp = { case ((s, n, e), v) =>
            val c = VectorKernels.nearestCentroid(v, bc.value, dim)
            n(c) += 1L
            var j = 0
            var d2 = 0.0
            while (j < dim) {
              s(c * dim + j) += v(j)
              val d = v(j).toDouble - bc.value(c * dim + j)
              d2 += d * d
              j += 1
            }
            e(0) += d2
            (s, n, e)
          },
          combOp = { case ((s1, n1, e1), (s2, n2, e2)) =>
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < n1.length) { n1(i) += n2(i); i += 1 }
            e1(0) += e2(0)
            (s1, n1, e1)
          })
      bc.destroy()
      val sse = sseAcc(0)
      curve += sse
      val next = cents.clone()
      var c = 0
      while (c < k) {
        if (counts(c) > 0L) {
          var j = 0
          while (j < dim) {
            next(c * dim + j) = (sums(c * dim + j) / counts(c)).toFloat
            j += 1
          }
        }
        c += 1
      }
      cents = next
      // the mean update from THIS round's sums is always applied (it is
      // already paid for and never increases SSE); the stop only decides
      // whether to buy ANOTHER corpus scan. Multiplicative form, not a
      // division: SSE == 0 (degenerate corpora — constant embeddings, ≤ k
      // distinct vectors) must satisfy 0 ≤ 0 and stop, not divide-by-zero
      // its way into paying every remaining round (round-12 review)
      if (relTol > 0.0 && !prevSse.isNaN &&
        prevSse - sse <= relTol * prevSse) stop = true
      prevSse = sse
      it += 1
    }
    (cents, curve.result())
  }

  /** Per-file assignment: one task per file streams its vectors, builds
    * its inverted lists and writes its sidecars (shared by full builds and
    * incremental extension) — empty ones for a file without rows, so it
    * counts as indexed. Returns file → rows indexed.
    */
  private def assignAndWrite(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      centroids: Array[Float],
      dim: Int,
      k: Int,
      store: IndexStore,
      embed: Boolean): Map[String, Long] = {
    val bcCentroids = spark.sparkContext.broadcast(centroids)
    perFile(spark, files) { file =>
      val cents = bcCentroids.value
      val lists = Array.fill(k)(new ArrayBuilder.ofInt)
      val maxDistSq = new Array[Float](k)
      var count = 0L
      SelectiveFetch.scanFile(file, column) { (ri, vec) =>
        val cluster = VectorKernels.nearestCentroid(vec, cents, dim)
        // the member's squared L2 in the search kernel's arithmetic
        // (nearestCentroid prunes and returns no distance), so the stored
        // radius bound dominates every query-side recomputation exactly
        val distSq = VectorKernels.squaredL2Offset(vec, cents, cluster * dim)
        lists(cluster) += ri.toInt
        if (distSq > maxDistSq(cluster)) maxDistSq(cluster) = distSq
        count += 1L
      }
      // the footer-embedded layout keeps skipping a file without rows
      if (count > 0 || !embed) {
        // rows stream in ordinal order, so every list is already ascending
        val index = IvfIndex(dim, k, cents, lists.map(_.result()))
        if (embed) ParquetFooterIndex.embedInPlace(file, column, index)
        else store.write(file, column, index)
        // per-cell radius sidecar — the triangle-inequality bound behind
        // exact index-pruned range search; stamped with this index's
        // centroid epoch so an out-of-band rebuild can't leave wrong bounds
        // in play
        store.writeRadii(file, column, radii(maxDistSq), index.centroidDigest)
        // residual PQ codes (vec − cellCentroid) from a PREVIOUS centroid
        // epoch are garbage under this index — drop them here so every
        // (re)index path (build, retrain, streaming ingest) invalidates
        // uniformly; PqSidecar.ensure re-encodes on demand
        store.delete(file, column, IndexStore.Sidecar.Pqr)
      }
      (file, count)
    }.filter { case (_, count) => count > 0 || !embed }.collect().toMap
  }

  /** Backfill the per-cell radius sidecars for files whose index predates
    * them (or was built by the reference engine): one task per missing
    * file streams its vectors, assigns them under the stored centroids and
    * writes the per-cell max distance — the indexes themselves are
    * untouched. No-op when every file already has radii.
    */
  def ensureRadii(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): Unit = {
    val files = IndexManager.listFiles(spark, path)
    val missing = files.filterNot(store.exists(_, column, IndexStore.Sidecar.Radii))
    if (missing.isEmpty) return
    val existing = IndexManager.loadIndex(store, missing.head, column)
    val bcCentroids = spark.sparkContext.broadcast(existing.centroids)
    val dim = existing.dim
    val k = existing.nClusters
    val epoch = existing.centroidDigest
    perFile(spark, missing) { file =>
      val cents = bcCentroids.value
      val maxDistSq = new Array[Float](k)
      SelectiveFetch.scanFile(file, column) { (_, vec) =>
        val cluster = VectorKernels.nearestCentroid(vec, cents, dim)
        val distSq = VectorKernels.squaredL2Offset(vec, cents, cluster * dim)
        if (distSq > maxDistSq(cluster)) maxDistSq(cluster) = distSq
      }
      store.writeRadii(file, column, radii(maxDistSq), epoch)
    }.collect(): Unit
  }

  /** Incremental extension: index only the table's UNINDEXED files, reusing
    * the centroid set from any already-indexed file — new data files arriving
    * in an append-only table get indexed without retraining or touching the
    * indexed ones (the shared-centroid-per-table design makes the per-file
    * indexes composable; the README roadmap's centroid-catalog idea). Falls
    * back to a full [[build]] when nothing is indexed yet. Scan, assignment,
    * and sidecar writes all touch ONLY the new files.
    */
  def extend(
      spark: SparkSession,
      path: String,
      config: Config,
      store: IndexStore = IndexStore.default): BuildResult = {
    require(config.column.nonEmpty, "embedding column name must be non-empty")
    val files = IndexManager.listFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    // column-specific check: a footer index for a DIFFERENT column must not
    // classify the file as indexed (peek validates the recorded column;
    // hasIndex alone would skip the file and later loads would fail)
    val indexed = files.filter(f =>
      store.exists(f, config.column) ||
        ParquetFooterIndex.peek(f, config.column).isDefined)
    if (indexed.isEmpty) return build(spark, path, config, store)

    val existing = IndexManager.loadIndex(store, indexed.head, config.column)
    // Set membership: Seq.contains inside filterNot is O(files²) on a
    // 100k-file table
    val indexedSet = indexed.toSet
    val missing = files.filterNot(indexedSet.contains)
    if (missing.isEmpty)
      return BuildResult(Map.empty, existing.dim, existing.nClusters, existing.centroids)
    val (rows, dim) = validate(spark, missing, config.column)
    require(
      rows == 0L || dim == existing.dim,
      s"new files' vector dim $dim != existing index dim ${existing.dim}")
    indexUnder(spark, missing, config.column, existing, store)
  }

  /** Indexes already-validated new files under `existing`'s centroids. */
  private def indexUnder(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      existing: IvfIndex,
      store: IndexStore): BuildResult =
    BuildResult(
      assignAndWrite(
        spark, files, column, existing.centroids, existing.dim,
        existing.nClusters, store, embed = false),
      existing.dim, existing.nClusters, existing.centroids)

  /** Outcome of [[extendOrRetrain]]: what ran, and the measured drift.
    * `drift` is the total-variation distance in [0, 1] between the trained
    * per-cell assignment distribution (read from the STORED inverted lists —
    * no data rescan) and the appended batch's distribution under the same
    * centroids; `outlierFraction` is the share of appended vectors landing
    * FARTHER from their assigned centroid than that cell's stored radius
    * (the [[IndexStore.loadRadii]] sidecar) — the distortion signal that
    * catches a shifted blob which still assigns proportionally (low TV,
    * exploding distances). Either is -1 when no comparison happened (first
    * build / nothing new; outlierFraction also -1 unless EVERY indexed
    * file carries a radius sidecar — a partial envelope would understate
    * the trained spread).
    */
  final case class ExtendResult(
      build: BuildResult,
      retrained: Boolean,
      drift: Double,
      outlierFraction: Double = -1.0)

  /** Per-cell counts recorded in the stored inverted lists of `files` —
    * the trained distribution, free from the index itself. Index loads are
    * distributed across executor tasks; the driver sees only k partial sums.
    */
  def indexedCellCounts(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      store: IndexStore = IndexStore.default): Array[Long] = {
    require(files.nonEmpty, "no indexed files to profile")
    val k = IndexManager.loadIndex(store, files.head, column).nClusters
    indexedCellStats(spark, files, column, k, store)._1
  }

  /** ONE shuffle-free pass over the indexed files returning BOTH the
    * trained per-cell counts (from the stored inverted lists) and the
    * per-cell radius envelope (max over the files' radius sidecars) —
    * [[extendOrRetrain]]'s two drift signals share the job instead of
    * scanning the file list twice. An index load is small, so the files
    * are spread over the default parallelism rather than one task each;
    * the driver merges k-length partials as tasks finish. The envelope is `None` unless EVERY indexed file carries
    * a valid length-k sidecar: a partial envelope (e.g. reference-built
    * footer indexes without sidecars plus one extend-written file WITH one)
    * would understate the trained spread and force spurious full-table
    * rebuilds — partial coverage must disengage the distortion signal, not
    * tighten it.
    */
  private def indexedCellStats(
      spark: SparkSession,
      indexed: Seq[String],
      column: String,
      k: Int,
      store: IndexStore): (Array[Long], Option[Array[Float]]) =
    spark.sparkContext
      .parallelize(indexed, math.min(indexed.size, spark.sparkContext.defaultParallelism))
      .map { f =>
        val idx = IndexManager.loadIndex(store, f, column)
        (Array.tabulate(k)(c => idx.invertedLists(c).length.toLong),
          IndexManager.validRadii(store, f, column, idx))
      }
      .reduce { case ((c1, r1), (c2, r2)) =>
        var i = 0
        while (i < k) { c1(i) += c2(i); i += 1 }
        (c1, r1.zip(r2).map { case (a, b) => Array.tabulate(k)(j => math.max(a(j), b(j))) })
      }

  /** Total-variation distance between two cell-count histograms:
    * `0.5 * Σ |p_c − q_c|` over normalized counts — 0 means identical
    * distributions, 1 means disjoint support.
    */
  def totalVariation(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length, s"histogram sizes differ: ${a.length} vs ${b.length}")
    val na = a.sum.toDouble
    val nb = b.sum.toDouble
    require(na > 0 && nb > 0, "empty histogram")
    var tv = 0.0
    var c = 0
    while (c < a.length) { tv += math.abs(a(c) / na - b(c) / nb); c += 1 }
    tv / 2.0
  }

  /** Drift-aware incremental indexing — the retrain policy the README
    * roadmap left open. Appended (unindexed) files are first ASSIGNED under
    * the existing centroids (one linear broadcast-centroid pass, the same
    * work [[extend]] does anyway); the whole table is REBUILT with
    * retrained centroids when EITHER drift signal fires, otherwise only the
    * new files get indexes ([[extend]] semantics):
    *
    *  1. distribution shift — the appended cell histogram's total-variation
    *     distance from the trained one exceeds `maxDrift`;
    *  2. distortion shift — more than `maxOutlierFraction` of appended
    *     vectors land FARTHER from their assigned centroid than that
    *     cell's learned radius envelope (max over the indexed files'
    *     radius sidecars). This catches what TV cannot: a translated blob
    *     that still assigns proportionally across cells has near-zero TV
    *     while every distance explodes — the centroids stopped describing
    *     the data even though the histogram looks stable.
    *
    * At 100 TB the probe costs one task per appended file and no shuffle
    * — the trained histogram comes from the stored lists and the radius
    * envelope from the tiny sidecars, never a rescan.
    * Signal 2 engages only when EVERY indexed file carries a radius
    * sidecar (run [[ensureRadii]] to backfill); anything less disengages
    * it (outlierFraction = -1), keeping pre-radii and reference-built
    * indexes fully compatible.
    */
  def extendOrRetrain(
      spark: SparkSession,
      path: String,
      config: Config,
      store: IndexStore = IndexStore.default,
      maxDrift: Double = 0.25,
      maxOutlierFraction: Double = 0.5): ExtendResult = {
    require(maxDrift >= 0 && maxDrift <= 1, s"maxDrift must be in [0,1], got $maxDrift")
    require(
      maxOutlierFraction >= 0 && maxOutlierFraction <= 1,
      s"maxOutlierFraction must be in [0,1], got $maxOutlierFraction")
    val files = IndexManager.listFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    val indexed = files.filter(f =>
      store.exists(f, config.column) ||
        ParquetFooterIndex.peek(f, config.column).isDefined)
    if (indexed.isEmpty)
      return ExtendResult(build(spark, path, config, store), retrained = true, drift = -1.0)
    // Set membership: Seq.contains inside filterNot is O(files²) on a
    // 100k-file table
    val indexedSet = indexed.toSet
    val missing = files.filterNot(indexedSet.contains)
    if (missing.isEmpty)
      return ExtendResult(extend(spark, path, config, store), retrained = false, drift = -1.0)

    val existing = IndexManager.loadIndex(store, indexed.head, config.column)
    val (trained, trainedRadii) =
      indexedCellStats(spark, indexed, config.column, existing.nClusters, store)
    val bcCentroids = spark.sparkContext.broadcast(existing.centroids)
    val dim = existing.dim
    // same validation contract as build/extend: a null or wrong-dim vector in
    // an appended file must fail with the clean error, not an executor NPE
    // inside the assignment pass
    val (appendedRows, appendedDim) = validate(spark, missing, config.column)
    // no appended vector, no drift to measure: index the empty files
    if (appendedRows == 0L)
      return ExtendResult(
        indexUnder(spark, missing, config.column, existing, store), retrained = false, drift = -1.0)
    require(
      appendedDim == dim,
      s"appended files' vector dim $appendedDim != existing index dim $dim")
    val k = existing.nClusters
    val bcRadii = spark.sparkContext.broadcast(trainedRadii.orNull)

    // per file: the k-cell histogram plus the outlier count in slot k
    val column = config.column
    val appendedHist = perFile(spark, missing) { file =>
      val cents = bcCentroids.value
      val radii = bcRadii.value
      val hist = new Array[Long](k + 1)
      SelectiveFetch.scanFile(file, column) { (_, v) =>
        val cell = VectorKernels.nearestCentroid(v, cents, dim)
        hist(cell) += 1L
        if (radii != null &&
          math.sqrt(VectorKernels.squaredL2Offset(v, cents, cell * dim).toDouble) > radii(cell).toDouble)
          hist(k) += 1L
      }
      hist
    }.reduce { (a, b) =>
      var i = 0
      while (i <= k) { a(i) += b(i); i += 1 }
      a
    }
    val appended = java.util.Arrays.copyOf(appendedHist, k)
    val outliers = appendedHist(k)
    val appendedTotal = appended.sum

    val tv = totalVariation(trained, appended)
    val outlierFrac =
      if (trainedRadii.isEmpty || appendedTotal == 0L) -1.0
      else outliers.toDouble / appendedTotal
    val shouldRetrain = tv > maxDrift || (outlierFrac >= 0 && outlierFrac > maxOutlierFraction)
    if (shouldRetrain) {
      // retrain = refresh centroid POSITIONS under the new distribution:
      // Lloyd warm-starts from the drifted centroids (k preserved, no
      // re-seeding), then the whole table re-assigns and re-indexes
      val warmed = config.copy(
        nClusters = Some(existing.nClusters), warmStart = Some(existing.centroids))
      ExtendResult(build(spark, path, warmed, store), retrained = true, drift = tv, outlierFrac)
    } else
      ExtendResult(extend(spark, path, config, store), retrained = false, drift = tv, outlierFrac)
  }

  /** Rewrite mode (reference `write_parquet_with_index`,
    * `/root/reference/src/ivf/parquet.rs:307-377`): copy the table to
    * `outPath` with point-read-friendly page layout — 1 row per data page,
    * dictionary off — then build and embed the index into each output file.
    * parquet-java only exposes these knobs per-file (not per-column like the
    * reference's arrow writer), so the whole file gets the tuned layout; the
    * row-group size cap keeps the page-header overhead bounded. Row ordering
    * inside each output file defines the index ordinals, so the index is
    * built AFTER the rewrite, from the rewritten files.
    */
  def rewriteWithIndex(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      config: Config,
      numFiles: Option[Int] = None): BuildResult = {
    val df = spark.read.parquet(inPath)
    val writer = numFiles.fold(df)(df.repartition(_)).write
      .mode("overwrite")
      .option("parquet.page.row.count.limit", "1")
      .option("parquet.enable.dictionary", "false")
    writer.parquet(outPath)
    val store = IndexStore.default // unused: embed writes into the files
    build(spark, outPath, config, store, embed = true)
  }
}
