package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training and encoding over a distributed
  * corpus — the tokenizer-construction workload of an LLM data pipeline
  * (Sennrich et al. 2016's merge loop, word-internal variant: symbols
  * start as characters and never merge across whitespace; no end-of-word
  * marker).
  *
  * Scale shape: the corpus is tokenized and aggregated ONCE into a
  * word-frequency table (one shuffle, |vocabulary| rows — orders of
  * magnitude smaller than the corpus and the only step that touches
  * corpus bytes). From there, two trainers with identical output:
  * [[trainMerges]] runs one map-side-combined pair count + 1-row argmax
  * job PER merge — per-round work is vocab-sized, but a 30k-50k-merge
  * production vocabulary would pay that many sequential job launches of
  * fixed overhead, so it is the CROSS-ENGINE GATING form (the whole
  * sequence is reproducible as an unrolled SQL CTE chain), right at the
  * gated 8-16 merges; [[trainMergesLocal]] is the PRODUCTION form —
  * collect the word-frequency table once and run the merge loop in
  * memory with incremental pair maintenance (measured: 1000 merges in
  * 2.3 s on the 500k-doc scale corpus vs 0.38 s/merge ≈ 383 s projected
  * for the job-per-merge form — BpeScaleProbe, round-10 BENCHNOTES; the
  * probe's source is under BENCHNOTES "Retired tools").
  *
  * Representation: a word's symbol sequence is a string with a DOUBLE
  * `\u001F` separator at every boundary (`"␟␟a␟␟b␟␟"`); merging pair
  * (a, b) is the plain string replacement `"␟a␟␟b␟" → "␟ab␟"` — the
  * pattern consumes only the INNER half of each outer boundary, so the
  * halves it leaves recombine into full boundaries for the neighboring
  * pairs, and one left-to-right non-overlapping `replace()` pass merges
  * every occurrence exactly like BPE's canonical scan ("aaaa" → [aa, aa];
  * a single-separator scheme would eat the shared boundary and miss
  * every second occurrence). `replace()` is reproducible verbatim in any
  * engine, which is what makes the whole trainer AND encoder oracle-able
  * in SQL. Pair COUNTS include overlapping occurrences ("aaa" counts
  * (a,a) twice), the common counting convention.
  */
object Bpe {

  val Sep = "\u001F"
  private val Bnd = Sep + Sep // full symbol boundary

  /** One merge: rank order, the two symbols joined, and the weighted pair
    * count that won the iteration.
    */
  final case class Merge(rank: Int, symA: String, symB: String, cnt: Long)

  /** Word-frequency table of a corpus in delimited-symbol form:
    * `(w = "␟c₁␟c₂␟…␟", freq)`.
    */
  def delimitedWordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .select(
        concat(lit(Bnd), regexp_replace(col("word"), "(.)", "$1" + Bnd)).as("w"),
        col("freq"))

  private def symsOf(w: Column): Column =
    filter(split(w, Sep), s => s =!= "")

  private def pairCounts(words: DataFrame): DataFrame = {
    val syms = symsOf(col("w"))
    words
      .select(col("freq"), syms.as("_s"))
      .where(size(col("_s")) >= 2)
      .select(
        col("freq"),
        explode(transform(
          sequence(lit(0), size(col("_s")) - 2),
          i => struct(
            element_at(col("_s"), i + 1).as("sym_a"),
            element_at(col("_s"), i + 2).as("sym_b")))).as("p"))
      .groupBy(col("p.sym_a"), col("p.sym_b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Train `nMerges` BPE merges, one Spark job per merge — the
    * SQL-reproducible gating form; use [[trainMergesLocal]] (identical
    * output) when `nMerges` is production-sized. Deterministic: the
    * winning pair each iteration is max by (weighted count, sym_a, sym_b)
    * — the lexicographic tie-break makes the vocabulary
    * engine-reproducible. Fails fast if the corpus runs out of distinct
    * pairs before `nMerges` (train less, or on more data).
    */
  def trainMerges(df: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, s"trainMerges: nMerges=$nMerges must be >= 1")
    // the ONE corpus-sized job; every iteration after this runs over the
    // cached |vocabulary|-row table (re-applying the accumulated replace
    // chain per iteration — vocab-sized work, not corpus-sized)
    val base = delimitedWordFreqs(df, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var words = base
      val out = Seq.newBuilder[Merge]
      for (r <- 0 until nMerges) {
        val best = pairCounts(words)
          .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
          .limit(1)
          .collect()
        require(best.nonEmpty,
          s"trainMerges: corpus exhausted after $r merges (asked for $nMerges)")
        val row = best.head
        val (a, b, c) = (row.getString(0), row.getString(1), row.getLong(2))
        out += Merge(r, a, b, c)
        words = words.select(
          replace(
            col("w"),
            lit(Sep + a + Bnd + b + Sep),
            lit(Sep + a + b + Sep)).as("w"),
          col("freq"))
      }
      out.result()
    } finally base.unpersist(): Unit
  }

  /** [[trainMerges]] with the merge LOOP on the driver — the production
    * trainer (round-10 verdict item: the SQL-form loop is one
    * driver-coordinated Spark job PER merge, exact and fine at the gated
    * 8-16 merges but a 30k-50k-merge production vocabulary would pay 50k
    * sequential job launches of fixed overhead). This runs the ONE
    * corpus-sized job (word-frequency aggregation — the only step that
    * touches corpus bytes, exactly like [[trainMerges]]), collects the
    * |vocabulary|-row table, and trains in memory with incremental
    * pair-count maintenance (only words containing the winning pair are
    * touched per merge — the standard fast-BPE scheme). Produces the
    * IDENTICAL merge sequence: same overlap-inclusive pair counting, same
    * left-to-right non-overlapping merge scan, same
    * (count DESC, sym_a, sym_b) winner rule under UTF-8 BINARY symbol
    * order (what Spark's and DuckDB's string ORDER BY compare, and what
    * the SQL form therefore gated; Java's String ordering differs above
    * the BMP, so the comparison here is on UTF-8 bytes). The spec pins
    * sequence equality on tie- and overlap-heavy corpora.
    *
    * Driver bound: `maxWords` caps the collected vocabulary (fails fast
    * over it). At 100 TB the distinct-word table can exceed any driver —
    * production tokenizers train on a frequency-dominant sample anyway;
    * cap or sample the corpus upstream and document the sample, or fall
    * back to [[trainMerges]] when cross-engine reproducibility of a small
    * gated prefix is the goal.
    */
  def trainMergesLocal(
      df: DataFrame,
      textCol: String,
      nMerges: Int,
      maxWords: Long = 10000000L): Seq[Merge] = {
    require(nMerges >= 1, s"trainMergesLocal: nMerges=$nMerges must be >= 1")
    // the +1 probe row below must stay a positive Int (maxWords+1 would
    // wrap negative at Long.MaxValue and turn limit() into an error)
    require(maxWords >= 1 && maxWords < Int.MaxValue,
      s"trainMergesLocal: maxWords=$maxWords must be in [1, ${Int.MaxValue})")
    val wf = df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val rows = wf.limit(
      math.min(maxWords + 1, Int.MaxValue.toLong).toInt).collect()
    require(rows.length <= maxWords,
      s"trainMergesLocal: vocabulary exceeds maxWords=$maxWords — sample the corpus " +
        "or raise the bound (driver-memory trade)")
    val words: Array[Array[String]] = rows.map { r =>
      // initial symbols are code points, matching the SQL form's '(.)'
      val w = r.getString(0)
      val out = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    val freqs: Array[Long] = rows.map(_.getLong(1))

    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    // word indexes that contained the pair when last (re)indexed; stale
    // entries are tolerated (their subtract/re-add is a no-op)
    val occur = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def index(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(wi)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) occur.getOrElseUpdate(p, mutable.BitSet.empty).add(wi): Unit
        i += 1
      }
    }
    var wi = 0
    while (wi < words.length) { index(wi, 1L); wi += 1 }

    def utf8Less(x: String, y: String): Boolean =
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

    val out = Seq.newBuilder[Merge]
    for (r <- 0 until nMerges) {
      var bestA: String = null
      var bestB: String = null
      var bestC = 0L
      counts.foreach { case ((a, b), c) =>
        if (c > bestC ||
          (c == bestC && bestA != null &&
            (utf8Less(a, bestA) || (a == bestA && utf8Less(b, bestB)))))
          { bestA = a; bestB = b; bestC = c }
      }
      require(bestA != null,
        s"trainMergesLocal: corpus exhausted after $r merges (asked for $nMerges)")
      out += Merge(r, bestA, bestB, bestC)
      val merged = bestA + bestB
      occur.remove((bestA, bestB)).foreach(_.foreach { w =>
        index(w, -1L)
        // canonical left-to-right non-overlapping scan — the replace() pass
        val s = words(w)
        val nw = Array.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i < s.length - 1 && s(i) == bestA && s(i + 1) == bestB) {
            nw += merged; i += 2
          } else { nw += s(i); i += 1 }
        }
        words(w) = nw.result()
        index(w, 1L)
      })
    }
    out.result()
  }

  /** The whole text in delimited-symbol form: every non-whitespace char
    * followed by `Sep`, plus a `Sep` at the start and after every
    * whitespace char — so merge patterns (which begin and end with `Sep`)
    * can never span a word boundary.
    */
  private def delimited(text: Column): Column =
    concat(
      lit(Bnd),
      regexp_replace(
        regexp_replace(text, "([^\\s])", "$1" + Bnd),
        "(\\s)", "$1" + Bnd))

  /** The encoded symbol array of a text column under trained merges —
    * `nMerges` chained codegen'd `replace` passes plus one split/filter,
    * a pure projection (the [[TextAnalysis.piiScrub]] plan shape: no
    * shuffle, linear in corpus bytes).
    */
  def encodedSymbols(text: Column, merges: Seq[Merge]): Column = {
    val applied = merges.sortBy(_.rank).foldLeft(delimited(text)) { (c, m) =>
      replace(
        c,
        lit(Sep + m.symA + Bnd + m.symB + Sep),
        lit(Sep + m.symA + m.symB + Sep))
    }
    filter(split(applied, Sep), s => trim(s) =!= "")
  }

  /** BPE token count of a text column under trained merges. */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    size(encodedSymbols(text, merges))

  /** The corpus vocabulary under trained merges: one row per DISTINCT
    * encoded symbol with a dense 1-based id in LEXICOGRAPHIC symbol order
    * — deterministic, partition-invariant, and re-derivable in plain SQL
    * (frequency-ranked ids would also work but tie-break on counts is
    * where cross-engine drift creeps in). One distinct over the encoded
    * corpus + a |vocab|-row sort: the vocab table is tiny (base chars +
    * one entry per merge) no matter the corpus size.
    */
  def vocabulary(df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame =
    vocabularyOfEncoded(
      df.select(encodedSymbols(col(textCol), merges).as("_syms")))

  /** [[vocabulary]] over an ALREADY-ENCODED `_syms` array column — the
    * shared tail that lets [[tokenIdRows]] run the chained-replace encode
    * pass once for both the vocab derivation and the export.
    */
  private def vocabularyOfEncoded(enc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    enc.select(explode(col("_syms")).as("sym"))
      .distinct()
      .withColumn("id", row_number().over(Window.orderBy(col("sym"))).cast("bigint"))
  }

  /** Tokenized-dataset export: one row per (doc, position) with the BPE
    * token id under `vocab` (default: the corpus's own [[vocabulary]]) —
    * the materialization step between corpus curation and training-shard
    * writing. Encoding is the projection-only chained-replace pass;
    * ids come from ONE broadcast join against the tiny vocab table;
    * unknown symbols (encoding with a foreign vocab) get id −1 rather
    * than dropping positions. `pos` is 1-based.
    */
  def tokenIdRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge],
      vocab: Option[DataFrame] = None): DataFrame = {
    // encode ONCE: with the corpus's own vocabulary, the chained-replace
    // pass (the heavy projection) previously ran twice — once inside
    // vocabulary(), once for the export. Persist the encoded frame and
    // feed both consumers (r14; A/B at sf0.1: bp3 solo 3.29 → 2.41 s).
    // Registered with OpCaches — release via OpCaches.release(spark)
    // after the export is consumed (r15 release-path item).
    val enc = OpCaches.persist(
      df.select(col(idCol), encodedSymbols(col(textCol), merges).as("_syms")))
    val v = vocab.getOrElse(vocabularyOfEncoded(enc))
      .select(col("sym").as("_vsym"), col("id").as("_vid"))
    enc.select(
        col(idCol),
        posexplode(col("_syms")).as(Seq("_p", "_sym")))
      .join(broadcast(v), col("_sym") === col("_vsym"), "left")
      .select(
        col(idCol),
        (col("_p") + 1).cast("int").as("pos"),
        coalesce(col("_vid"), lit(-1L)).as("token_id"))
  }
}
