package graft.ivf

import java.io.FilterInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, SeekableInputStream}

/** Sidecar persistence for per-data-file IVF indexes and their companions,
  * and the one copy of their file IO: naming, atomic writes, positioned
  * reads, the binding check and the probe memo.
  *
  * The reference embeds the index inside the Parquet file footer region
  * (`/root/reference/src/ivf/parquet.rs:536-611`); we support that layout on
  * the read path (see [[ParquetFooterIndex]]) but default to sidecars so the
  * (possibly read-only / remote) data files are never mutated. Sidecar bytes
  * use the identical framing (magic + u64 length + payload), so a sidecar is
  * byte-for-byte what the reference would have appended.
  *
  * Every family is keyed by (data file path, embedding column) as
  * `<dir>/<sha1>.<ext>`, written atomically (temp + rename, so speculative
  * or retried executor tasks are safe) and little-endian:
  *
  * | ext | layout | binding | read by |
  * |---|---|---|---|
  * | `.pqvec` | `PQ_VECTOR1` · payload len u64 · [[IvfIndex]] payload | `.meta` | [[load]], [[peek]], [[centroidDigest]] → [[IndexManager]] |
  * | `.meta` | JSON `{file, column, dataLen, dataDigest}` | is the stamp | [[bound]] |
  * | `.sq8` | [[Sq8Sidecar]] header · nRows·dim code bytes | `.meta` | [[CodeReader]] via the sq8 tier of [[VectorTopK]] |
  * | `.pq`, `.pqr` | [[PqSidecar]] header · codebook · nRows·m code bytes; `.pqr` also centroid-stamped | `.meta` | [[CodeReader]] via the pq tiers of [[VectorTopK]] |
  * | `.radii` | `GQR2` · centroidDigest i64 · k i32 · f32 × k | `.meta` and centroid digest | [[loadRadii]] → [[IndexManager.validRadii]] |
  *
  * Every sidecar is BOUND to the data file's content: `write` stamps the
  * `.meta` with the data file's (length, footer-region digest), and every
  * read path ([[exists]] and everything built on it) refuses when the stamp
  * no longer matches — a data file
  * replaced AT THE SAME PATH (hand-swapped, external compaction output
  * copied over an input name) reads as "no index" instead of silently
  * serving the old file's row ordinals. The reference is structurally
  * immune because its index lives inside the file and a rewrite destroys
  * it (`/root/reference/src/ivf/parquet.rs:536-611`); sidecars need this
  * stamp to get the same refuse-don't-guess posture. [[IvfBuilder.extend]]
  * then self-heals: a stale-bound file classifies as unindexed and is
  * re-indexed (and re-stamped) under the table's shared centroids.
  *
  * Known window: the stamp is captured at sidecar-WRITE time, after the
  * indexing job already scanned the file — a data file replaced between
  * that scan and the write binds the new content to ordinals built from
  * the old (the in-flight-mutation caveat every external-compaction
  * workflow carries; don't rewrite files while an indexing job reads
  * them). Any replacement AFTER the write is fully covered.
  */
final class IndexStore(val dir: String) extends Serializable {
  import IndexStore._

  private def key(dataFile: String, column: String): String = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(IndexStore.canonicalPath(dataFile).getBytes("UTF-8"))
    md.update(0.toByte)
    md.update(column.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Path of the `sidecar` family's file for (data file, column). */
  def path(dataFile: String, column: String, sidecar: Sidecar = Sidecar.Index): String =
    s"$dir/${key(dataFile, column)}.${sidecar.ext}"

  def indexPath(dataFile: String, column: String): String = path(dataFile, column)

  def write(dataFile: String, column: String, index: IvfIndex): String = {
    val target = indexPath(dataFile, column)
    writeAtomic(target, IvfIndex.frame(index.toBytes))
    val (len, digest) = IndexStore.dataStamp(dataFile).getOrElse(throw new IllegalStateException(
      s"cannot stat data file $dataFile to bind its index sidecar — refusing to " +
        "write an unbound sidecar (a later file replacement would read as stale ordinals)"))
    val meta = s"""{"file": ${jsonStr(dataFile)}, "column": ${jsonStr(column)}, """ +
      s""""dataLen": $len, "dataDigest": $digest}"""
    // atomic like the .pqvec itself: a crash mid-write must leave either
    // the old stamp or the new one, never a truncated .meta a concurrent
    // reader would misparse (it would read as unbound → spurious rebuild)
    writeAtomic(path(dataFile, column, Sidecar.Meta), meta.getBytes("UTF-8"))
    target
  }

  /** True iff the sidecar family for (dataFile, column) is bound to the
    * CURRENT content of the data file: the `.meta` stamp (written by
    * [[write]]) matches the file's present (length, footer digest). False
    * for a replaced/rewritten data file, a missing or legacy stamp-less
    * `.meta`, or an unstattable data file — all of which must read as "no
    * sidecar" rather than risk serving another file's row ordinals.
    */
  def bound(dataFile: String, column: String): Boolean = {
    val metaPath = Paths.get(path(dataFile, column, Sidecar.Meta))
    if (!Files.exists(metaPath)) return false
    val meta = try new String(Files.readAllBytes(metaPath), "UTF-8") catch {
      case _: Exception => return false
    }
    (IndexStore.MetaLenRe.findFirstMatchIn(meta), IndexStore.MetaDigestRe.findFirstMatchIn(meta)) match {
      case (Some(lm), Some(dm)) =>
        IndexStore.dataStamp(dataFile).contains((lm.group(1).toLong, dm.group(1).toLong))
      case _ => false
    }
  }

  /** The `sidecar` file exists and the family is [[bound]] — the
    * availability test every reader of every family starts with: the codes
    * and radii sidecars map rows BY ORDINAL onto the data file, so a stale
    * stamp hides them all at once.
    */
  def exists(dataFile: String, column: String, sidecar: Sidecar = Sidecar.Index): Boolean =
    Files.exists(Paths.get(path(dataFile, column, sidecar))) && bound(dataFile, column)

  /** The decoded index, None when absent or unbound; a corrupt or
    * truncated sidecar is refused with a message naming the file.
    */
  def load(dataFile: String, column: String): Option[IvfIndex] =
    if (!exists(dataFile, column)) None
    else {
      val p = indexPath(dataFile, column)
      try Some(IvfIndex.unframe(Files.readAllBytes(Paths.get(p))))
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"${e.getMessage} in $p", e)
      }
    }

  /** Cheap (dim, nClusters) peek — reads only the framed header, so the
    * driver can validate an arbitrarily large file list without decoding
    * posting lists (those are probed executor-side).
    */
  def peek(dataFile: String, column: String): Option[(Int, Int)] =
    if (!exists(dataFile, column)) None
    else withChannel(indexPath(dataFile, column))(IvfIndex.readHeader(_, 0L).toOption)

  /** Per-cell radius sidecar for (data file, column): cell i's value is the
    * max TRUE L2 distance from centroid i to its members — the triangle-
    * inequality bound behind exact index-pruned RANGE search
    * ([[graft.ivf.VectorTopK.rangeSearch]]). Tiny (4 bytes/cell) and
    * OPTIONAL: readers without it fall back to probing every cell, which is
    * still exact. The bounds are a function of the centroid set, so the
    * header carries the index's [[IvfIndex.centroidDigest]]; a reader that
    * finds a different digest (an index rebuilt out-of-band, e.g. by the
    * reference engine after `ensureRadii`) treats the sidecar as ABSENT —
    * exact fallback instead of wrong pruning. (Old `GQR1` files lack the
    * digest and read as absent.)
    */
  def writeRadii(
      dataFile: String, column: String, radii: Array[Float], centroidDigest: Long): Unit = {
    val buf = ByteBuffer.allocate(16 + 4 * radii.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(IndexStore.RadiiMagic)
    buf.putLong(centroidDigest)
    buf.putInt(radii.length)
    radii.foreach(buf.putFloat)
    writeAtomic(path(dataFile, column, Sidecar.Radii), buf.array())
  }

  /** Radii iff present AND stamped with `expectedDigest` (the CURRENT
    * index's centroid fingerprint) — a mismatch means the index was rebuilt
    * after the radii were computed, and the caller must prune with no bound
    * (probe every cell: slower, still exact).
    */
  def loadRadii(
      dataFile: String, column: String, expectedDigest: Long): Option[Array[Float]] = {
    if (!exists(dataFile, column, Sidecar.Radii)) return None
    val bytes = Files.readAllBytes(Paths.get(path(dataFile, column, Sidecar.Radii)))
    if (bytes.length < 16) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    if (!magic.sameElements(IndexStore.RadiiMagic)) return None
    if (buf.getLong != expectedDigest) return None
    val k = buf.getInt
    if (k < 0 || bytes.length < 16 + 4L * k) return None
    val radii = new Array[Float](k)
    buf.asFloatBuffer().get(radii)
    Some(radii)
  }

  def delete(dataFile: String, column: String, sidecar: Sidecar): Unit =
    Files.deleteIfExists(Paths.get(path(dataFile, column, sidecar))): Unit

  /** Centroid fingerprint of the stored index, decoding ONLY the framed
    * header + centroid matrix (no posting lists) — O(d·k) per file, cheap
    * enough for driver-side epoch checks over a long file list.
    */
  def centroidDigest(dataFile: String, column: String): Option[Long] =
    if (!exists(dataFile, column)) None
    else withChannel(indexPath(dataFile, column)) { ch =>
      IvfIndex.readHeader(ch, 0L).toOption.flatMap { case (dim, k) =>
        // long-math shape check: a corrupt header with dim*k > ~536M would
        // overflow 4*dim*k to a negative allocate size and THROW instead of
        // reading as corruption; the centroid matrix also can't exceed what
        // the file actually holds past the header
        val centBytes = 4L * dim * k
        if (centBytes > Int.MaxValue || centBytes > ch.size() - IvfIndex.HeaderLen) None
        else readFully(ch, IvfIndex.HeaderLen, centBytes.toInt).map { cents =>
          val arr = new Array[Float](dim * k)
          cents.asFloatBuffer().get(arr)
          IvfIndex.centroidDigest(dim, k, arr)
        }
      }
    }

  /** The `sidecar` code file's header iff it is present, bound and intact
    * ([[IndexStore.intactHeader]]).
    */
  private[ivf] def intact[H <: CodeHeader](
      dataFile: String, column: String, sidecar: Sidecar, codec: CodeCodec[H]): Option[H] =
    if (!exists(dataFile, column, sidecar)) None
    else intactHeader(path(dataFile, column, sidecar), codec)

  /** [[IndexStore.memoizedProbe]] for an availability probe over this
    * store's `sidecars` of (dataFile, column): the identity covers each of
    * them, the `.meta` binding and the data file — every file such an
    * answer reads.
    */
  private[ivf] def memoized[T](
      kind: String, dataFile: String, column: String, sidecars: Sidecar*)(compute: => T): T =
    IndexStore.memoizedProbe(
      s"$kind:$dir", dataFile, column,
      (sidecars :+ Sidecar.Meta).map(path(dataFile, column, _)) :+ dataFile)(compute)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object IndexStore {
  private[ivf] val RadiiMagic: Array[Byte] = "GQR2".getBytes("US-ASCII")

  /** A sidecar family and its file extension (see the [[IndexStore]] table). */
  sealed abstract class Sidecar(val ext: String) extends Serializable
  object Sidecar {
    case object Index extends Sidecar("pqvec")
    case object Meta extends Sidecar("meta")
    case object Sq8 extends Sidecar("sq8")
    case object Pq extends Sidecar("pq")
    case object Pqr extends Sidecar("pqr")
    case object Radii extends Sidecar("radii")

    /** `.pqr` for the residual (IVF-ADC) codes, else `.pq` — both can
      * coexist for one column.
      */
    def pq(residual: Boolean): Sidecar = if (residual) Pqr else Pq
  }

  /** Write `bytes` to `path` through a temp file and an atomic rename: a
    * reader sees the old file or the new one, never a torn write.
    */
  private[ivf] def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(s"$path.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Exactly `n` bytes of `ch` from `pos` (positioned, so the channel's own
    * position is untouched), flipped and little-endian; None on EOF.
    */
  private[ivf] def readFully(ch: FileChannel, pos: Long, n: Int): Option[ByteBuffer] = {
    val buf = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    var at = pos
    while (buf.hasRemaining) {
      val read = ch.read(buf, at)
      if (read < 0) return None
      at += read
    }
    buf.flip()
    Some(buf)
  }

  private[ivf] def withChannel[T](path: String)(f: FileChannel => T): T = {
    val ch = FileChannel.open(Paths.get(path))
    try f(ch) finally ch.close()
  }

  /** The fixed-header facts every dense code sidecar shares: `nRows` rows
    * of `width` bytes, in row-ordinal order, from `codesOffset`.
    */
  private[graft] trait CodeHeader {
    def nRows: Int
    def width: Int
    def codesOffset: Long
  }

  /** A code sidecar family's header codec ([[Sq8Sidecar]], [[PqSidecar]]). */
  private[graft] trait CodeCodec[H <: CodeHeader] {
    /** Family name for refusal messages. */
    def name: String
    /** Bytes [[parseHeader]] needs from offset 0. */
    def headerBytes: Int
    /** Parse (and sanity-check) the header; refusals name `path`. */
    def parseHeader(buf: ByteBuffer, path: String): H
  }

  /** An open code sidecar with its parsed header. Not thread-safe; one per
    * task.
    */
  private[ivf] final class CodeReader[H <: CodeHeader](val path: String, codec: CodeCodec[H])
      extends AutoCloseable {
    private val ch = FileChannel.open(Paths.get(path))
    val header: H =
      try codec.parseHeader(read(0L, codec.headerBytes, s"truncated ${codec.name} sidecar"), path)
      catch { case e: Throwable => ch.close(); throw e }

    /** `n` bytes from `pos`; EOF is refused as "`what` `path`". */
    def read(pos: Long, n: Int, what: String): ByteBuffer =
      readFully(ch, pos, n).getOrElse(throw new IllegalArgumentException(s"$what $path"))

    /** The file covers every row the header promises — atomic writes rule
      * out crash truncation, but a damaged or partially-copied file would
      * otherwise pass the header check and fail the first query inside an
      * executor task instead of being rebuilt by `ensure`.
      */
    def intact: Boolean =
      ch.size() >= header.codesOffset + header.nRows.toLong * header.width

    /** Codes of `ordinals` (sorted ascending, file-local), one positioned
      * read per consecutive-ordinal run — IVF posting lists are ascending
      * and locally clumped, so probed cells coalesce into few IO calls.
      */
    def rows(ordinals: Array[Int]): Array[Array[Byte]] = {
      if (ordinals.isEmpty) return Array.empty
      require(
        ordinals.last < header.nRows && ordinals.head >= 0,
        s"ordinal out of range [0, ${header.nRows}) in $path")
      val w = header.width
      val out = new Array[Array[Byte]](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        var j = i
        while (j + 1 < ordinals.length && ordinals(j + 1) == ordinals(j) + 1) j += 1
        val bytes = read(
          header.codesOffset + ordinals(i).toLong * w, (j - i + 1) * w, "unexpected EOF in").array()
        var r = i
        while (r <= j) {
          out(r) = java.util.Arrays.copyOfRange(bytes, (r - i) * w, (r - i + 1) * w)
          r += 1
        }
        i = j + 1
      }
      out
    }

    override def close(): Unit = ch.close()
  }

  private[ivf] def withCodes[H <: CodeHeader, T](path: String, codec: CodeCodec[H])(
      f: CodeReader[H] => T): T = {
    val reader = new CodeReader(path, codec)
    try f(reader) finally reader.close()
  }

  /** Header + SIZE intactness probe of a code sidecar: its header iff it
    * parses and [[CodeReader.intact]] holds, else None — one header read and
    * one `size()` stat, no code bytes touched; never throws.
    */
  private[graft] def intactHeader[H <: CodeHeader](path: String, codec: CodeCodec[H]): Option[H] =
    scala.util.Try(withCodes(path, codec)(r => Some(r.header).filter(_ => r.intact)))
      .toOption.flatten

  /** A byte-bounded LRU with hit/miss counters — the decoded-index and
    * decoded-codebook caches. `load` runs OUTSIDE the lock: first touches of
    * distinct keys never serialize behind each other's IO (a concurrent
    * first touch of one key may load twice). Eviction runs eldest first
    * until the budget holds and never drops the entry just inserted, so a
    * single over-budget value is still served.
    */
  private[ivf] final class ByteLru[K, V <: AnyRef](maxBytes: Long, weight: (K, V) => Long) {
    private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var bytes = 0L
    private val hits = new AtomicLong
    private val misses = new AtomicLong

    /** (hits, misses) since JVM start. */
    def stats: (Long, Long) = (hits.get(), misses.get())

    def getOrLoad(key: K)(load: => V): V = {
      val hit = entries.synchronized(entries.get(key))
      if (hit != null) { hits.incrementAndGet(); hit }
      else {
        val v = load
        misses.incrementAndGet()
        entries.synchronized {
          val old = entries.put(key, v)
          if (old != null) bytes -= weight(key, old)
          bytes += weight(key, v)
          val it = entries.entrySet().iterator()
          while (bytes > maxBytes && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) { bytes -= weight(e.getKey, e.getValue); it.remove() }
          }
        }
        v
      }
    }
  }

  // ── driver-side availability-probe memo ────────────────────────────────
  // Planning probes (tier=auto sidecar `usable()`, the rule's per-file
  // header peeks) each OPEN and read sidecar/meta/footer bytes; on a
  // 100k-file table that is 100k driver round-trips PER PLANNED QUERY on
  // remote storage. The memo turns every repeat probe into stat calls
  // only: results are keyed by (probe kind, data file, column) and
  // validated against the identity (inode fileKey, mtime, length) of every
  // file the probe's answer depends on — the IndexManager.loadIndex LRU
  // pattern. Any sidecar rebuild, data-file replacement, or .meta rebind
  // is a temp+atomic-rename (new inode), so a stale hit cannot be served
  // even within one mtime tick. Process-wide; cleared wholesale past the
  // cap via the same approximate-counter scheme as stampMemo.
  private val ProbeMemoCap = 1000000
  private val probeMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Any)]
  private val probeMemoCount = new AtomicLong(0)
  private val probeHits = new AtomicLong
  private val probeMisses = new AtomicLong

  /** (hits, misses) of the availability-probe memo since JVM start — a
    * second planned query over an unchanged F-file table shows F hits per
    * probe kind, 0 misses.
    */
  def probeCacheStats: (Long, Long) = (probeHits.get(), probeMisses.get())

  /** Test hook: drop all memoized probe results (never needed in
    * production — identity keys self-invalidate).
    */
  private[graft] def clearProbeMemo(): Unit = {
    probeMemo.clear(); probeMemoCount.set(0)
  }

  /** Stat-derived identity of one dependency file: inode + mtime(ns) +
    * length, or "absent" when unstattable. Building the identity never
    * opens the file.
    */
  private[graft] def fileIdentity(path: String): String =
    try {
      val a = Files.readAttributes(
        Paths.get(localPath(path)), classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.fileKey()}:${a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)}:${a.size}"
    } catch { case _: Exception => "absent" }

  /** The shared lookup/miss/cache body of both memo layers. The identity is
    * snapshotted BEFORE compute and re-derived AFTER: a result is cached
    * only when both snapshots agree, so a probe racing a concurrent write
    * (e.g. `usable()` stat-ing an absent sidecar, the build's rename
    * landing, compute then answering true) can never file the post-write
    * answer under the pre-write identity — the TOCTOU that would let a
    * later delete RESTORE the pre-write identity and pin the stale answer
    * (round-12 review). A lost race just means that one probe isn't cached.
    */
  private def memoizedEntry[T](
      key: (String, String), id: String, reId: => String)(compute: => T): T =
    probeMemo.get(key) match {
      case Some((cachedId, v)) if cachedId == id =>
        probeHits.incrementAndGet()
        v.asInstanceOf[T]
      case _ =>
        val v = compute
        probeMisses.incrementAndGet()
        if (reId == id) {
          if (probeMemoCount.incrementAndGet() > ProbeMemoCap) {
            probeMemo.clear(); probeMemoCount.set(0)
          }
          probeMemo.put(key, (id, v))
        }
        v
    }

  /** Memoize a driver-side probe whose result is a pure function of the
    * listed dependency files' CONTENT. `identityPaths` must cover every
    * file the probe reads (or whose absence it reports on); a change to
    * any of them — including appearing/disappearing — invalidates the
    * entry. Costs |identityPaths| stats per call instead of the probe's
    * opens+reads.
    */
  private[graft] def memoizedProbe[T](
      kind: String,
      dataFile: String,
      column: String,
      identityPaths: Seq[String])(compute: => T): T = {
    val key = (kind + "\u0000" + canonicalPath(dataFile), column)
    def idNow: String = identityOf(identityPaths)
    memoizedEntry(key, idNow, idNow)(compute)
  }

  /** FNV-1a over the file list — the table-probe key component (the list
    * is pre-sorted by every caller, so equal sets hash equal).
    */
  private def filesHash(files: Seq[String]): Long = {
    var h = IvfIndex.FnvBasis
    files.foreach { f =>
      var i = 0
      while (i < f.length) { h = IvfIndex.fnv1a(h, f.charAt(i) & 0xFFFFL); i += 1 }
      h = IvfIndex.fnv1a(h, 0xFFL)
    }
    h
  }

  /** Bounded daemon pool for driver-side availability probes — sized for
    * IO-latency hiding (header peeks are one small pread each), not CPU.
    */
  private lazy val probePool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-probe")
      t.setDaemon(true)
      t
    })

  /** Parallel ∀ over a file list for cold availability probes: each probe
    * opens one sidecar header, so a sequential walk costs ~0.3 ms × F of
    * serialized IO latency — the r13 cold-plan residual (2.75 s at 8192
    * files, ~33 s extrapolated at 100k). Short-circuits on the first
    * false (in-flight tasks drain); exceptions from `pred` propagate
    * un-wrapped so IO-error fidelity survives (EACCES surfaces as
    * EACCES) — UNLESS some file definitively answered false, in which
    * case false wins regardless of file order (under parallelism there
    * is no "first" anymore). That is sound for an availability probe: a
    * definitive false routes the caller to the rebuild/fallback path,
    * which is correct whether or not another file also had an IO error;
    * the validations that MUST surface IO errors per-file use
    * `cachedPeekStrict`, not this probe. Sequential below a small size —
    * pool overhead beats the win there, and specs probing single files
    * keep their stack traces.
    */
  private[graft] def forallFiles(files: Seq[String])(pred: String => Boolean): Boolean =
    if (files.lengthCompare(32) <= 0) files.forall(pred)
    else {
      val ok = new java.util.concurrent.atomic.AtomicBoolean(true)
      val futures = files.map { f =>
        probePool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = if (ok.get() && !pred(f)) ok.set(false)
        })
      }
      // drain with a short-circuit: once any task established `false`, the
      // answer is known — cancel the outstanding tasks (queued ones never
      // run; in-flight ones finish their single pread) and return without
      // paying the full queue drain. Exceptions only surface when NO
      // definitive false was observed, matching the sequential forall's
      // behavior (it would have short-circuited to false before reaching
      // the throwing file).
      var firstErr: Throwable = null
      futures.foreach { fu =>
        if (!ok.get()) fu.cancel(false)
        else
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstErr == null) firstErr = Option(e.getCause).getOrElse(e)
          }
      }
      if (!ok.get()) false
      else if (firstErr != null) throw firstErr
      else true
    }

  /** The directory set whose identity a table-level memo validates against:
    * the sidecar store dir plus each distinct parent dir of the data files
    * (see [[memoizedTableProbe]] for why directory mtimes cover every
    * rename-landed change). Shared with the rule's rewritten-plan cache.
    */
  private[graft] def tableDirs(files: Seq[String], storeDir: String): Seq[String] =
    storeDir +: files.iterator.map { f =>
      val local = localPath(f)
      val cut = local.lastIndexOf('/')
      if (cut > 0) local.substring(0, cut) else local
    }.distinct.toSeq

  /** Combined stat identity of a path set (see [[fileIdentity]]). */
  private[graft] def identityOf(paths: Seq[String]): String =
    paths.map(fileIdentity).mkString("|")

  /** TABLE-level probe memo — the O(1)-stats fast path above
    * [[memoizedProbe]]: an all-files availability question ("every scan
    * file has a usable pq sidecar", "every file is indexed at dim d") is
    * validated against the identity of the DIRECTORIES involved — the
    * sidecar store dir plus each distinct parent dir of the data files —
    * instead of per-file stats. Every write in this engine lands by
    * temp + atomic-rename, and POSIX rename/create/delete updates the
    * parent directory's mtime, so any sidecar build/rebuild/removal or
    * data-file add/replace-by-rename invalidates the entry and the
    * recompute falls through to the per-file layer. The one gap —
    * an external tool overwriting a file's CONTENT in place (no directory
    * entry change) — cannot make this memo produce silent wrongness:
    * execution-side binding stamps still refuse the swapped file loudly;
    * only the plan-time availability answer is stale until any rename
    * touches the dir. Filesystems without stat-able directories (object
    * stores) yield an "absent" dir identity, which BYPASSES this layer
    * entirely (per-file probes, still memoized individually).
    */
  private[graft] def memoizedTableProbe[T](
      kind: String,
      column: String,
      files: Seq[String],
      storeDir: String)(compute: => T): T = {
    val dirs = tableDirs(files, storeDir)
    def idNow: String = identityOf(dirs)
    val id = idNow
    if (id.contains("absent"))
      return compute // un-stat-able dirs: never trust a dir-level identity
    val key = (s"$kind:$storeDir:${filesHash(files)}:${files.size}", column)
    memoizedEntry(key, id, idNow)(compute)
  }

  private[ivf] val MetaLenRe = """"dataLen":\s*(-?\d+)""".r
  private[ivf] val MetaDigestRe = """"dataDigest":\s*(-?\d+)""".r

  // digest memo keyed by the file's full identity (path, inode, mtime,
  // length) — a replaced file changes the key, so a stale digest can never
  // be served; bounds repeated binding checks (per task, per query) to one
  // tail read per distinct file version per JVM. Cleared wholesale past
  // 1M entries (~150 MB of keys) so a long-lived ingest JVM that touches
  // millions of file VERSIONS doesn't grow it unboundedly — a clear only
  // costs re-reading 64 KiB tails on the next touch
  private val StampMemoCap = 1000000
  private val stampMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long, Long), Long]
  // TrieMap.size walks the whole trie (O(entries)) — never call it on the
  // per-lookup hot path. An approximate insert counter (racy increments are
  // fine; the cap is a heuristic, not an invariant) gates the clear instead.
  private val stampMemoCount = new AtomicLong(0)

  /** Content stamp of a data file: (length, digest of the file's TAIL).
    * The tail (last ≤64 KiB) covers the parquet footer — row-group
    * metadata, column stats, offsets, created-by — which changes under any
    * content rewrite even when the byte length happens to match, and reads
    * in one cheap pread (no full-file hash at 100 TB). None when the file
    * cannot be statted/read.
    */
  def dataStamp(dataFile: String): Option[(Long, Long)] = {
    val local = localPath(dataFile)
    try {
      val attrs = Files.readAttributes(
        Paths.get(local), classOf[java.nio.file.attribute.BasicFileAttributes])
      val key = (local, String.valueOf(attrs.fileKey()),
        attrs.lastModifiedTime.toMillis, attrs.size)
      val digest = stampMemo.get(key).getOrElse {
        if (stampMemoCount.incrementAndGet() > StampMemoCap) {
          stampMemo.clear(); stampMemoCount.set(0)
        }
        stampMemo.getOrElseUpdate(key, {
          val tail = math.min(attrs.size, 65536L).toInt
          val buf = withChannel(local)(readFully(_, attrs.size - tail, tail))
            .getOrElse(throw new java.io.EOFException(local))
          val md = MessageDigest.getInstance("SHA-1")
          md.update(buf.array(), 0, tail)
          java.nio.ByteBuffer.wrap(md.digest()).getLong
        })
      }
      Some((attrs.size, digest))
    } catch { case _: Exception => None }
  }

  /** Default writable cache dir (testdata is read-only). */
  def default: IndexStore =
    new IndexStore(sys.env.getOrElse("GRAFT_INDEX_DIR", "/root/repo/.graft/index"))

  /** Spark renders local file URIs in two shapes depending on the API
    * (`_metadata.file_path` → `file:/p`, `FileIndex.inputFiles` →
    * `file:///p`). Canonicalize to the `_metadata` shape so store keys and
    * join keys agree no matter which side produced the path.
    */
  def canonicalPath(s: String): String = {
    val uri = try new java.net.URI(s) catch { case _: Exception => return s }
    if (uri.getScheme == "file") "file:" + uri.getPath else s
  }

  /** The local filesystem path of a data file (`file:` URIs unwrapped; any
    * other string passes through).
    */
  def localPath(dataFile: String): String = canonicalPath(dataFile).stripPrefix("file:")

  /** The Hadoop configuration every parquet open here reads: a default
    * `Configuration`, built once per JVM (each build re-parses the XML
    * resources) and only read, never mutated.
    */
  private val hadoopConf: Configuration = new Configuration()

  /** Open the parquet file at `path` through Hadoop's filesystem, so a
    * local file's `.crc` checksum is verified on read. The read options
    * come from the shared configuration: `ParquetFileReader.open(file)`
    * builds a fresh `Configuration` per call, which re-parses the XML
    * resources — about 8 ms per open, more than the footer read itself.
    * Each reader still gets its own options (and codec factory, which
    * `close` releases). Every byte the reader takes from the file counts
    * into [[bytesReadOnThread]].
    */
  private[ivf] def openParquet(path: String): ParquetFileReader =
    ParquetFileReader.open(
      new CountedInputFile(HadoopInputFile.fromPath(new Path(path), hadoopConf)),
      HadoopReadOptions.builder(hadoopConf).build())

  private val threadBytes = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Bytes the calling thread has read through [[openParquet]]'s readers:
    * footers, page indexes and pages, as the reader asked for them. A
    * task's input-bytes metric is this count's growth over the task.
    * Hadoop's per-thread filesystem statistics cannot stand in for it:
    * parquet's vectored reads (on by default) complete on other threads
    * and are missing there, and the checksummed local stream's read-ahead
    * is counted there.
    */
  def bytesReadOnThread: Long = threadBytes.get()(0)

  /** A parquet file whose streams count what they return into
    * [[bytesReadOnThread]]. Its streams offer no vectored reads, so the
    * reader reads each range itself, on the calling thread.
    */
  private final class CountedInputFile(file: InputFile) extends InputFile {
    def getLength: Long = file.getLength
    def newStream(): SeekableInputStream = {
      val in = file.newStream()
      val counted = new FilterInputStream(in) {
        override def read(): Int = {
          val b = in.read()
          if (b >= 0) threadBytes.get()(0) += 1
          b
        }
        override def read(buf: Array[Byte], off: Int, len: Int): Int = {
          val n = in.read(buf, off, len)
          if (n > 0) threadBytes.get()(0) += n
          n
        }
      }
      new DelegatingSeekableInputStream(counted) {
        def getPos: Long = in.getPos
        def seek(pos: Long): Unit = in.seek(pos)
      }
    }
  }
}
