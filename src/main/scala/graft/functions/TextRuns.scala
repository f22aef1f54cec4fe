package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Hashing.md5Long

/**
 * Repetition-statistics kernel (Gopher-style top n-gram fraction,
 * reference capability: training-data quality filters; cf. the reference's
 * per-row transform stages, e.g. cdc/sink/dmlsink/mq/transformer).
 *
 * A per-document statistic must never shuffle its grams: at corpus scale
 * the explode + groupBy((doc, gram)) formulation moves every n-gram string
 * through an exchange. This expression computes the most-frequent-gram
 * fraction entirely inside the row: xxhash64 each token zero-copy, combine
 * n consecutive hashes (FNV-1a over the 8-byte words), sort the primitive
 * long array, and take the longest equal run. O(m log m) per doc, zero
 * object allocation beyond two long arrays, codegen-friendly — the scan
 * stays one WholeStageCodegen span with no exchange.
 *
 * Hash note: gram identity is a 64-bit hash, so two distinct grams collide
 * with probability ~m²/2⁶⁵ per doc (~1e-13 at 10k tokens) — negligible
 * against the exact-count alternative's shuffle cost.
 */
object TextRuns {

  /** most-frequent n-gram count / total n-gram count, null when the doc
    * has no n-grams (fewer than n tokens). */
  def topGramFrac(tokens: ArrayData, n: Int): java.lang.Double = {
    val m = tokens.numElements()
    val total = m - n + 1
    if (total <= 0) return null
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val s = tokens.getUTF8String(i)
      th(i) = if (s == null) 0L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val g = new Array[Long](total)
    i = 0
    while (i < total) {
      var h = -3750763034362895579L // FNV-1a offset basis
      var k = 0
      while (k < n) {
        var x = th(i + k)
        var b = 0
        while (b < 8) { h = (h ^ (x & 0xff)) * 1099511628211L; x >>>= 8; b += 1 }
        k += 1
      }
      g(i) = h
      i += 1
    }
    java.util.Arrays.sort(g)
    var best = 1
    var run = 1
    i = 1
    while (i < total) {
      if (g(i) == g(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best.toDouble / total.toDouble
  }

  /** Column builder: tokens array<string> → top n-gram fraction. */
  def topNgramFrac(tokens: Column, n: Int): Column =
    ExpressionUtils.column(TopNgramFrac(ExpressionUtils.expression(tokens), n))

  // ------------------------------------------------------------------
  // MinHash / SimHash kernels. Same VALUES as the Hashing.portableLong
  // (md5Long) + seededMix column pipeline — the oracle twin SQL is
  // unchanged — but computed inside the row: one digest per distinct
  // shingle, k mixes in a tight loop, zero explode, zero shuffle. On a
  // cluster the signature stage becomes a map-only pass over the corpus.
  // ------------------------------------------------------------------

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")
  private val MixP = 2147483647L // 2^31 - 1, keep in lockstep with Hashing

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
   * the MOSS algorithm): over the positional n-gram hashes h[0..], slide
   * a window of `w` consecutive hashes and keep each window's minimum —
   * any shared substring of ≥ n+w−1 tokens is then GUARANTEED to share a
   * fingerprint (the local-selection property MinHash sampling lacks).
   * Returns the selected hashes as a SORTED DISTINCT array (set
   * semantics; document density 2/(w+1)). Short docs (< w windows)
   * winnow the whole hash sequence as one window; sub-n-gram docs
   * inherit [[shingleHashSeq]]'s whole-text fallback. One in-row pass,
   * O(len·w) with tiny w — the text never leaves the row.
   */
  def winnowHashes(text: UTF8String, n: Int, w: Int): ArrayData = {
    val h = shingleHashSeq(text, n).toLongArray()
    val m = math.max(h.length - w + 1, 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < m) {
      var mn = Long.MaxValue
      var j = i
      val end = math.min(i + w, h.length)
      while (j < end) { if (h(j) < mn) mn = h(j); j += 1 }
      set.add(mn)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Open-addressing long set (values are 60-bit, so Long.MinValue is a
    * safe empty sentinel); avoids 10⁸-scale boxing in the shingle loop. */
  private final class LongSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(expected * 2, 16) - 1) << 1
    private var keys = new Array[Long](cap)
    java.util.Arrays.fill(keys, Long.MinValue)
    private var n = 0
    def size: Int = n
    /** true if newly added. */
    def add(x: Long): Boolean = {
      var i = (java.lang.Long.hashCode(x * -7046029254386353131L) & (cap - 1))
      while (true) {
        val k = keys(i)
        if (k == x) return false
        if (k == Long.MinValue) {
          keys(i) = x; n += 1
          if (n * 2 > cap) grow()
          return true
        }
        i = (i + 1) & (cap - 1)
      }
      false
    }
    def toSortedArray: Array[Long] = {
      val out = new Array[Long](n)
      var i = 0; var j = 0
      while (i < cap) { if (keys(i) != Long.MinValue) { out(j) = keys(i); j += 1 }; i += 1 }
      java.util.Arrays.sort(out)
      out
    }
    private def grow(): Unit = {
      val old = keys
      cap <<= 1
      keys = new Array[Long](cap)
      java.util.Arrays.fill(keys, Long.MinValue)
      n = 0
      var i = 0
      while (i < old.length) { if (old(i) != Long.MinValue) add(old(i)); i += 1 }
    }
  }

  /** MinHash signature + distinct-shingle hash set in one pass.
    * Shingles: word n-grams joined by ' ' (whole text when < n tokens) —
    * exactly [[graft.operators.Dedup.shingles]]. Returns
    * struct(sig: array<long>(k), sh: array<long> sorted distinct hashes).
    * Dedup-by-hash is exact for `sig` (re-processing an equal hash cannot
    * change a min); for `sh` set sizes a 60-bit collision is ~m²/2⁶¹ per
    * doc — negligible. */
  def minhashAnalyze(text: UTF8String, n: Int, k: Int): InternalRow = {
    val str = text.toString
    val toks = Whitespace.split(str, -1)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val seen = new LongSet(math.max(toks.length, 8))
    def acc(h: Long): Unit = if (seen.add(h)) {
      val hp = h % MixP
      var s = 0
      while (s < k) {
        val m = (hp * (2L * s + 3L) + s) % MixP
        if (m < mins(s)) mins(s) = m
        s += 1
      }
    }
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        acc(md5Long(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
    } else acc(md5Long(text))
    new GenericInternalRow(Array[Any](
      new GenericArrayData(mins), new GenericArrayData(seen.toSortedArray)))
  }

  /** Sorted distinct word-n-gram hashes only — [[minhashAnalyze]] minus the
    * signature mixes, for operators that need the gram SET (contamination
    * overlap, Jaccard pre-pass) without MinHash. One in-row pass, zero
    * explode of gram strings. */
  def shingleHashSet(text: UTF8String, n: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val seen = new LongSet(math.max(toks.length, 8))
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(md5Long(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        i += 1
      }
    } else seen.add(md5Long(text))
    new GenericArrayData(seen.toSortedArray)
  }

  /** Word-n-gram hashes IN DOCUMENT ORDER (duplicates kept) — the
    * positional sibling of [[shingleHashSet]] for span-grain operators:
    * element i is the hash of the window starting at token i, so
    * posexplode yields true window-start positions. Same per-window hash
    * (md5Long over the space-joined gram) and the same short-text
    * fallback (one whole-text hash). */
  def shingleHashSeq(text: UTF8String, n: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    if (toks.length >= n) {
      val out = new Array[Long](toks.length - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = md5Long(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
      new GenericArrayData(out)
    } else new GenericArrayData(Array(md5Long(text)))
  }

  /** Word n-grams AS STRINGS in document order (duplicates kept) — the
    * string-valued sibling of [[shingleHashSeq]] for operators keyed by
    * the gram TEXT itself (vocabulary ranking, where tie-breaks order by
    * the gram string so a hash swap would change results): same
    * tokenization, same ' '-joined windows, same whole-text fallback.
    * One in-row pass — replaces the interpreted transform/concat_ws
    * chain of the column form with a single tokenize+join loop. */
  def shingleStrings(text: UTF8String, n: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    if (toks.length >= n) {
      val out = new Array[Any](toks.length - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      // whole-text fallback (Dedup.shingles parity); copy the bytes — the
      // input UTF8String may be backed by a reused row buffer
      new GenericArrayData(Array[Any](UTF8String.fromBytes(text.getBytes)))
    }
  }

  /** SimHash over token-occurrence hashes (NOT distinct — each occurrence
    * votes): bit b of the result is set iff Σ±1 over bit b of the token
    * md5-hashes is positive. Values identical to the column form. */
  def simhash(text: UTF8String, bits: Int): Long = {
    val toks = Whitespace.split(text.toString, -1)
    val sums = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      val h = md5Long(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Per-position word bigram pairs struct(w1, "w1 w2") in ONE tokenization
    * pass — the LM-scoring gram extractor. The naive column form
    * (`transform(sequence(...), i => element_at(split(text), i) ...)`)
    * re-evaluates `split` once per position (O(L²) per doc — measured 29 %
    * of a full bench run at sf0.1); here the row is tokenized exactly once
    * and the pair array built in a tight loop. Tokenization is
    * `\s+`-split with limit -1, byte-identical to
    * [[graft.operators.TextOps.tokens]] / the oracle twin. */
  def gramPairArray(text: UTF8String): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val total = toks.length - 1
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(toks(i)),
        UTF8String.fromString(toks(i) + " " + toks(i + 1))))
      i += 1
    }
    new GenericArrayData(out)
  }

  def gramPairs(text: Column): Column =
    ExpressionUtils.column(GramPairs(ExpressionUtils.expression(text)))

  /** Per-position word bigram triples struct(w1, w2, "w1 w2") — the
    * [[gramPairArray]] sibling for consumers that also key on the SECOND
    * word (Kneser-Ney's continuation counts): the former column form
    * re-derived w2 with a regex `split(g, " ")` per gram row; here it is
    * the token already in hand. Same tokenization, same pair windows. */
  def gramTripleArray(text: UTF8String): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val total = toks.length - 1
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(toks(i)),
        UTF8String.fromString(toks(i + 1)),
        UTF8String.fromString(toks(i) + " " + toks(i + 1))))
      i += 1
    }
    new GenericArrayData(out)
  }

  def gramTriples(text: Column): Column =
    ExpressionUtils.column(GramTriples(ExpressionUtils.expression(text)))

  /** Hashed-bucket term frequencies in ONE in-row pass: distinct tokens'
    * tf folded onto `bucket = md5Long(token) mod b`, summed per bucket and
    * sorted by bucket — the DSIR feature extractor. Identical totals to
    * explode([[tokenTfArray]]) → pmod(portableLong(w), b) → sum: md5Long
    * IS portableLong's integer value and per-bucket regrouping commutes
    * with every downstream sum (Σ tf·λ_b groups the same terms). Emits
    * ≤ min(#distinct tokens, b) rows per doc instead of one per distinct
    * token. */
  def bucketTfArray(text: UTF8String, b: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val m = new java.util.TreeMap[String, Long]()
    var i = 0
    while (i < toks.length) { m.merge(toks(i), 1L, (a, c) => a + c); i += 1 }
    val agg = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bucket = java.lang.Long.valueOf(
        md5Long(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)) % b)
      agg.merge(bucket, e.getValue, (a, c) => java.lang.Long.valueOf(a + c))
    }
    val out = new Array[Any](agg.size())
    var j = 0
    val it2 = agg.entrySet().iterator()
    while (it2.hasNext) {
      val e = it2.next()
      out(j) = new GenericInternalRow(Array[Any](
        e.getKey.longValue(), e.getValue.longValue()))
      j += 1
    }
    new GenericArrayData(out)
  }

  def bucketTf(text: Column, b: Int): Column =
    ExpressionUtils.column(BucketTf(ExpressionUtils.expression(text), b))

  /** Exact-dup digest of normalized text in ONE in-row pass: lowercase
    * (the same UTF8String.toLowerCase the `lower` expression calls),
    * whitespace runs collapsed to single spaces (same `\s+` regex), md5 →
    * 60-bit long ([[graft.core.Hashing.md5Long]]). Byte-identical to
    * `portableLong(regexp_replace(lower(text), "\\s+", " "))`, without
    * that chain's two intermediate strings per row. */
  def exactKeyLong(text: UTF8String): Long = {
    val collapsed =
      Whitespace.matcher(text.toLowerCase.toString).replaceAll(" ")
    md5Long(collapsed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def exactKey(text: Column): Column =
    ExpressionUtils.column(ExactKey(ExpressionUtils.expression(text)))

  /** Distinct tokens with their in-doc occurrence counts in ONE
    * tokenization pass: array<struct(w string, tf long)>, sorted by w.
    * Replaces the explode-all-occurrences → groupBy((doc, token)) shape —
    * at corpus scale that shuffles every token occurrence; this emits one
    * row per DISTINCT token straight into the (broadcast) DF join. */
  def tokenTfArray(text: UTF8String): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val m = new java.util.TreeMap[String, Long]()
    var i = 0
    while (i < toks.length) { m.merge(toks(i), 1L, (a, b) => a + b); i += 1 }
    val out = new Array[Any](m.size())
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.getKey), e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }

  def tokenTf(text: Column): Column =
    ExpressionUtils.column(TokenTf(ExpressionUtils.expression(text)))

  def minhashAnalyze(text: Column, n: Int, k: Int): Column =
    ExpressionUtils.column(MinHashAnalyze(ExpressionUtils.expression(text), n, k))

  def shingleHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), n))

  def shingleHashSeq(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashSeq(ExpressionUtils.expression(text), n))

  def shingleStrings(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleStrings(ExpressionUtils.expression(text), n))

  def winnowHashes(text: Column, n: Int, w: Int): Column =
    ExpressionUtils.column(WinnowHashes(ExpressionUtils.expression(text), n, w))

  /**
   * Token-grain content-defined chunking in ONE in-row pass: a chunk
   * boundary closes after any token whose portable hash ≡ 0 (mod b), so
   * boundaries are a function of CONTENT, not position — insert a prefix
   * and every chunk after the first boundary is byte-identical (the
   * shift-resistance that fixed windows lack; the rolling-hash cut rule
   * of LBFS/FastCDC at token grain). Expected chunk length = b tokens.
   * Returns array<struct(ch: long, n_tok: long)> in document order; the
   * chunk text itself never leaves the row.
   */
  def cdcChunkArray(text: UTF8String, b: Int): ArrayData = {
    val toks = Whitespace.split(text.toString, -1)
    val out = new scala.collection.mutable.ArrayBuffer[Any](toks.length / b + 2)
    val sb = new java.lang.StringBuilder
    var nTok = 0L
    def flush(): Unit = if (nTok > 0) {
      out += new GenericInternalRow(Array[Any](
        md5Long(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        nTok))
      sb.setLength(0); nTok = 0
    }
    var i = 0
    while (i < toks.length) {
      if (nTok > 0) sb.append(' ')
      sb.append(toks(i)); nTok += 1
      if (md5Long(toks(i).getBytes(
          java.nio.charset.StandardCharsets.UTF_8)) % b == 0) flush()
      i += 1
    }
    flush()
    new GenericArrayData(out.toArray)
  }

  def cdcChunks(text: Column, b: Int): Column =
    ExpressionUtils.column(CdcChunks(ExpressionUtils.expression(text), b))

  def simhash64(text: Column, bits: Int): Column =
    ExpressionUtils.column(Simhash64(ExpressionUtils.expression(text), bits))
}

/** array<string> tokens → double fraction; null when < n tokens. */
case class TopNgramFrac(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-grams need n >= 1")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.topGramFrac(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double r = graft.functions.TextRuns.topGramFrac($c, $n);
      ${ev.isNull} = r == null;
      ${ev.value} = ${ev.isNull} ? -1.0 : r.doubleValue();
    """)
  override protected def withNewChildInternal(newChild: Expression): TopNgramFrac =
    copy(child = newChild)
}

/** text → struct(sig array<long>(k), sh array<long>): MinHash signature +
  * sorted distinct shingle hashes, one in-row pass. */
case class MinHashAnalyze(child: Expression, n: Int, k: Int) extends UnaryExpression {
  require(n >= 1 && k >= 1)
  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.minhashAnalyze(input.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.minhashAnalyze($c, $n, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashAnalyze =
    copy(child = newChild)
}

/** text → array<long>: sorted distinct word-n-gram hashes, one in-row pass. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.shingleHashSet(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.shingleHashSet($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** text → array<long>: word-n-gram hashes in DOCUMENT order (positional
  * sibling of [[ShingleHashes]]; duplicates kept). */
case class ShingleHashSeq(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.shingleHashSeq(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.shingleHashSeq($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSeq =
    copy(child = newChild)
}

/** text → array<string>: word n-grams in document order (string-valued
  * sibling of [[ShingleHashSeq]]; duplicates kept). */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.shingleStrings(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.shingleStrings($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** text → sorted distinct array<long> of winnowing-selected n-gram hashes
  * (window w) — see [[TextRuns.winnowHashes]]. */
case class WinnowHashes(child: Expression, n: Int, w: Int)
    extends UnaryExpression {
  require(n >= 1 && w >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.winnowHashes(input.asInstanceOf[UTF8String], n, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.winnowHashes($c, $n, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

/** text → array<struct(w1 string, g string)>: per-position word bigrams,
  * one tokenization pass per row (empty array below 2 tokens). */
case class GramPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.gramPairArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.gramPairArray($c)")
  override protected def withNewChildInternal(newChild: Expression): GramPairs =
    copy(child = newChild)
}

/** text → array<struct(w1 string, w2 string, g string)>: per-position word
  * bigram triples, one tokenization pass per row. */
case class GramTriples(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.gramTripleArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.gramTripleArray($c)")
  override protected def withNewChildInternal(newChild: Expression): GramTriples =
    copy(child = newChild)
}

/** text → array<struct(bucket long, tf long)>: hashed-bucket term
  * frequencies (mod `b`), summed per bucket, sorted by bucket. */
case class BucketTf(child: Expression, b: Int) extends UnaryExpression {
  require(b >= 1, "bucket count must be >= 1")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.bucketTfArray(input.asInstanceOf[UTF8String], b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.bucketTfArray($c, $b)")
  override protected def withNewChildInternal(newChild: Expression): BucketTf =
    copy(child = newChild)
}

/** text → long exact-dup digest of normalized text (lower + collapsed
  * whitespace + md5), one in-row pass. */
case class ExactKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.exactKeyLong(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.exactKeyLong($c)")
  override protected def withNewChildInternal(newChild: Expression): ExactKey =
    copy(child = newChild)
}

/** text → array<struct(w string, tf long)>: distinct tokens with in-doc
  * counts, sorted by token, one tokenization pass per row. */
case class TokenTf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.tokenTfArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.tokenTfArray($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenTf =
    copy(child = newChild)
}

/** text → array<struct(ch long, n_tok long)>: content-defined chunks,
  * one tokenization pass per row; boundary = token hash ≡ 0 (mod b). */
case class CdcChunks(child: Expression, b: Int) extends UnaryExpression {
  require(b >= 2, "expected chunk length must be >= 2 tokens")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ch", LongType, nullable = false),
    StructField("n_tok", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.cdcChunkArray(input.asInstanceOf[UTF8String], b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.cdcChunkArray($c, $b)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** text → long SimHash of token-occurrence hashes. */
case class Simhash64(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextRuns.simhash(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRuns.simhash($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}
