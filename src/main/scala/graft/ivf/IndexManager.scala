package graft.ivf

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Process-wide cache of built IVF indexes, keyed by (table path, column).
  * `ensure` builds with the reference's default parameters on first use and
  * reuses sidecars across sessions/runs (they are seeded-deterministic, so
  * reuse is safe).
  */
object IndexManager {

  final case class TableIndex(
      path: String,
      column: String,
      dim: Int,
      nClusters: Int,
      files: Seq[String])

  private val cache = TrieMap.empty[(String, String), TableIndex]

  /** A table's data files (canonical form, sorted) and its partition
    * column names, as Spark's file index lists them.
    */
  private[graft] final case class Listing(files: Seq[String], partitionColumns: Seq[String])

  /** Spark's own file index over the table at `path`, listed now. Building
    * it infers no schema, so it runs no Spark job (a directory with more
    * subdirectories than `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` is listed by one, as for any Spark read). `schema`, when
    * given, types the partition columns the way a read with that schema
    * does.
    */
  private def fileIndex(
      spark: SparkSession, path: String, schema: Option[StructType]): InMemoryFileIndex = {
    val root = new Path(path)
    val qualified = root.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(root)
    new InMemoryFileIndex(spark, Seq(qualified), Map.empty[String, String], schema)
  }

  /** List the table at `path` again (never memoized: a new partition
    * directory under a partitioned root changes no directory a memo could
    * stat).
    */
  private[graft] def listTable(spark: SparkSession, path: String): Listing = {
    val index = fileIndex(spark, path, None)
    Listing(
      index.inputFiles.toSeq.map(IndexStore.canonicalPath).sorted,
      index.partitionSchema.fieldNames.toSeq)
  }

  /** Enumerate data files from the driver-side file index (no scan job,
    * no schema inference); canonical form matches `_metadata.file_path` and
    * the store keys. The same files `spark.read.parquet(path).inputFiles`
    * names.
    */
  def listFiles(spark: SparkSession, path: String): Seq[String] = listTable(spark, path).files

  /** Each data file's partition values (canonical path → values), the
    * partition columns typed by `schema` (the table's full schema).
    */
  private[graft] def partitionValues(
      spark: SparkSession, path: String, schema: StructType): Map[String, InternalRow] =
    fileIndex(spark, path, Some(schema)).listFiles(Nil, Nil).iterator.flatMap { dir =>
      val values = dir.values.copy()
      dir.files.iterator.map(f => IndexStore.canonicalPath(f.getPath.toUri.toString) -> values)
    }.toMap

  /** Spark's inferred schema of the table — `spark.read.parquet(path)
    * .schema`, whose inference runs a Spark job — memoized per listed file
    * set through [[IndexStore.memoizedTableProbe]]: a repeat call over an
    * unchanged table runs no job, and an append (a new file, a changed
    * directory) infers once more. The parquet confs that steer inference
    * are part of the key.
    */
  private[graft] def tableSchema(
      spark: SparkSession, path: String, files: Seq[String], store: IndexStore): StructType = {
    val conf = spark.sessionState.conf
    val steering = Seq(
      SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
      SQLConf.CASE_SENSITIVE).map(e => conf.getConf(e)).mkString(",")
    IndexStore.memoizedTableProbe(s"table-schema-$steering", path, files, store.dir)(
      spark.read.parquet(path).schema)
  }

  /** Decoded-index LRU (per JVM, so per executor in cluster mode): probe
    * paths call [[loadIndex]] once per (task, file), and without a cache
    * every repeated query re-reads and re-decodes the same sidecar —
    * decode cost × tasks × queries. Decoded indexes are immutable, and the
    * cache is bounded by a BYTE budget (posting lists are 4 bytes/row, so
    * counting entries would under-bound large files). Entries are keyed by
    * the BACKING file's (path, mtime,
    * length): a rebuilt sidecar (retrain, streaming ingest) or an in-place
    * footer re-embed changes both and reads as a miss, never a stale hit.
    */
  // the cache bound is BYTES, not entries: an entry's dominant cost is its
  // posting lists (4 bytes per row of the file), so a count bound would
  // let a few million-row files pin gigabytes while a byte budget keeps
  // the worst case explicit (default 256 MiB per JVM)
  private val decoded = new IndexStore.ByteLru[CacheKey, IvfIndex](
    sys.props.getOrElse("graft.index.cacheBytes", (256L << 20).toString).toLong,
    (_, i) => 4L * i.centroids.length + i.invertedLists.iterator.map(l => 4L * l.length + 16L).sum)
  // column is part of the key even though a sidecar path already encodes
  // it — a FOOTER-embedded file can hold indexes for several columns under
  // one backing path, and those must not alias. fileKey (inode identity)
  // guards the mtime-granularity hole: every sidecar write is
  // temp + atomic-rename, so a same-length rewrite within one timestamp
  // tick still changes the inode and reads as a miss.
  private final case class CacheKey(
      path: String, column: String, fileKey: String, mtime: Long, length: Long,
      dataFileKey: String, dataMtime: Long, dataLength: Long)

  /** (hits, misses) since JVM start — surfaced so benches/specs can see the
    * cache working; executor-side numbers are per-executor.
    */
  def decodedCacheStats: (Long, Long) = decoded.stats

  /** Identity of the bytes [[loadIndex]] would decode: the sidecar when one
    * exists, else the data file itself (footer-embedded index — in-place
    * re-embeds rewrite the file, moving mtime and usually length).
    */
  private def cacheKey(store: IndexStore, file: String, column: String): Option[CacheKey] = {
    val sidecar = java.nio.file.Paths.get(store.indexPath(file, column))
    val dataPath = java.nio.file.Paths.get(IndexStore.localPath(file))
    val backing =
      if (java.nio.file.Files.exists(sidecar)) sidecar else dataPath
    try {
      def attrsOf(p: java.nio.file.Path) = java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      val attrs = attrsOf(backing)
      // the DATA file's identity is part of the key even on the sidecar
      // path: a data file replaced at an unchanged path (sidecar untouched)
      // must read as a miss so decode() re-checks the sidecar binding and
      // refuses, instead of a stale decoded index serving the old ordinals
      val dataAttrs = if (backing eq dataPath) attrs else attrsOf(dataPath)
      Some(CacheKey(
        backing.toString, column, String.valueOf(attrs.fileKey()),
        attrs.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS), attrs.size,
        String.valueOf(dataAttrs.fileKey()),
        dataAttrs.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
        dataAttrs.size))
    } catch { case _: Exception => None }
  }

  /** The planner's per-file header peek — sidecar first, footer-embedded
    * second — memoized store-level ([[IndexStore.memoizedProbe]]): the
    * rewrite rule peeks EVERY scan file per planned query, and without the
    * memo that is O(files) driver opens per plan on every query against
    * the same table. Identity covers the index sidecar, its .meta binding,
    * and the data file (the footer path). Never throws: an unreadable
    * header reads as None, like the rule's original Try wrapper.
    */
  def cachedPeek(
      store: IndexStore, file: String, column: String): Option[(Int, Int)] =
    store.memoized("peek", file, column, IndexStore.Sidecar.Index) {
      scala.util.Try(
        store.peek(file, column).orElse(ParquetFooterIndex.peek(file, column)))
        .toOption.flatten
    }

  /** [[cachedPeek]] with ERROR FIDELITY for the must-be-indexed validation
    * paths (VectorTopK's winner feed, every tier): a memoized
    * None re-probes UNCACHED and un-swallowed, so a real IO failure
    * (EACCES on the index dir, a truncated sidecar) surfaces as itself
    * instead of the misleading "no IVF index — build one" (which would
    * send an operator rebuilding indexes to paper over a permissions
    * problem). The re-probe only runs on the about-to-throw path, so the
    * memo still eliminates the per-file opens for every healthy query
    * (round-12 review).
    */
  def cachedPeekStrict(
      store: IndexStore, file: String, column: String): Option[(Int, Int)] =
    cachedPeek(store, file, column).orElse(
      store.peek(file, column).orElse(ParquetFooterIndex.peek(file, column)))

  /** Sidecar first, footer-embedded second (the order the driver peeks in);
    * shared by the executor-side probe paths. Decoded results are served
    * from the per-JVM LRU above.
    */
  def loadIndex(store: IndexStore, file: String, column: String): IvfIndex = {
    def decode(): IvfIndex =
      store.load(file, column)
        .orElse(ParquetFooterIndex.load(file, column))
        .getOrElse(throw new IllegalStateException(
          s"no IVF index for file $file column '$column' — build one with IvfBuilder"))
    cacheKey(store, file, column) match {
      case None => decode() // unstattable backing file: let decode() report
      case Some(key) => decoded.getOrLoad(key)(decode())
    }
  }

  /** `ensure` + the table's shared centroid matrix (every per-file index
    * of a table carries the same centroids by construction, so the first
    * file's copy is authoritative) — the entry point for cell-bucketing
    * callers (sq2/cp-style cell joins, batch ANN).
    */
  def ensureWithCentroids(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): (TableIndex, Array[Float]) = {
    val ti = ensure(spark, path, column, store = store)
    (ti, loadIndex(store, ti.files.head, column).centroids)
  }

  /** Per-cell index statistics as a DataFrame — the operational
    * introspection surface (what the reference exposes through its CLI
    * stats): one row per (file, cell) with the posting-list size, the
    * stored radius bound (NaN when the radius sidecar is absent or from a
    * dead centroid epoch), and the file's centroid digest. Distributed:
    * each task describes its own files' indexes; the driver never holds
    * more than the returned rows.
    *
    * Quick health reads: cell-size skew (`max(size)/avg(size)` per file),
    * dead cells (`size = 0`), epoch splits (`countDistinct(centroid_digest)
    * > 1` means mixed index generations — rebuild before residual-PQ use).
    */
  def describeIndex(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val files = listFiles(spark, path)
    require(files.nonEmpty, s"no parquet files under $path")
    // driver-side header peeks, like every other multi-file entry point —
    // a missing index is a clean immediate error, not a task stacktrace
    files.foreach { f =>
      require(
        store.peek(f, column).orElse(ParquetFooterIndex.peek(f, column)).isDefined,
        s"no IVF index for file $f column '$column' — build one with IvfBuilder")
    }
    val colName = column
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext
      .parallelize(files, slices)
      .flatMap { f =>
        val idx = loadIndex(store, f, colName)
        val radii = validRadii(store, f, colName, idx)
        (0 until idx.nClusters).iterator.map { c =>
          (f, c, idx.invertedLists(c).length.toLong,
            radii.fold(Float.NaN)(_(c)), idx.centroidDigest)
        }
      }
      .toDF("file", "cell", "size", "radius", "centroid_digest")
  }

  /** The radius sidecar iff it is valid for THIS index: present, stamped
    * with the index's centroid epoch, and sized to its cell count — the
    * single definition of "usable radii" shared by range pruning, the
    * selectivity estimate, the drift signal, and [[describeIndex]].
    */
  def validRadii(
      store: IndexStore,
      file: String,
      column: String,
      idx: IvfIndex): Option[Array[Float]] =
    store.loadRadii(file, column, idx.centroidDigest).filter(_.length == idx.nClusters)

  def ensure(
      spark: SparkSession,
      path: String,
      column: String,
      nClusters: Option[Int] = None,
      store: IndexStore = IndexStore.default): TableIndex = {
    // freshness check on every call: a grown (append-only) table must not
    // be served the cached file list forever — re-list (one driver file
    // listing, the same cost the uncached path pays) and recompute when it
    // moved; the cache still saves the per-file header peeks / the build
    val files = listFiles(spark, path)
    cache.get((path, column)).filter(_.files == files).getOrElse {
      val built = {
        // header peeks only — O(files) tiny reads, no posting-list decode
        val peeks = files.map(f => store.peek(f, column))
        if (nClusters.isEmpty && peeks.forall(_.isDefined)) {
          val (dim, k) = peeks.head.get
          TableIndex(path, column, dim, k, files)
        } else if (nClusters.isEmpty && peeks.exists(_.isDefined)) {
          // append-only table grew: index just the new files, shared centroids
          val result = IvfBuilder.extend(spark, path, IvfBuilder.Config(column), store)
          TableIndex(path, column, result.dim, result.nClusters, files)
        } else {
          val result = IvfBuilder.build(
            spark, path, IvfBuilder.Config(column, nClusters), store)
          TableIndex(path, column, result.dim, result.nClusters, files)
        }
      }
      cache.put((path, column), built)
      built
    }
  }
}
