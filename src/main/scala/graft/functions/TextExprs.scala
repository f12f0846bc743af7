package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the set-similarity text pipeline: gram/shingle
  * extraction fused with 64-bit hashing, and sorted-set intersection.
  *
  * The string gram SETS never materialize: each document row produces a
  * sorted distinct array<bigint> of element hashes in one loop. Jaccard
  * only needs set cardinalities, which are preserved as long as the
  * hash is collision-free on the observed elements (64-bit hash,
  * ~10⁴ distinct elements per corpus → collision probability < 1e-11),
  * so results stay bit-identical to a string-set oracle.
  */
object TextHash {
  /** 64-bit string hash: 31-polynomial over UTF-16 chars, finished
    * with splitmix64 avalanche. Internal only — never compared against
    * an oracle-side hash.
    */
  def hashChars(s: String, from: Int, until: Int): Long = {
    var h = 1125899906842597L
    var i = from
    while (i < until) { h = h * 31 + s.charAt(i); i += 1 }
    SigKernels.splitmix64(h)
  }

  /** Sort + dedupe in place; returns the deduped length. */
  def sortDedupe(a: Array[Long], n: Int): Int = {
    if (n == 0) return 0
    java.util.Arrays.sort(a, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    w
  }

  def toArrayData(a: Array[Long], n: Int): ArrayData = {
    val out = new Array[Long](n)
    System.arraycopy(a, 0, out, 0, n)
    new GenericArrayData(out)
  }
}

/** Sorted distinct 64-bit hashes of the character n-grams of a string:
  * the fused form of `charGrams` + per-gram hashing. Empty array when
  * the text is shorter than n (mirrors TextOps.charGrams).
  */
case class HashedCharGrams(child: Expression, n: Int)
    extends UnaryKernel[UTF8String] {
  require(n > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_char_grams"

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val len = s.length
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val m = len - n + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = TextHash.hashChars(s, i, i + n); i += 1 }
    TextHash.toArrayData(hs, TextHash.sortDedupe(hs, m))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashedCharGrams = copy(child = newChild)
}

/** Greedy longest-match WordPiece segmentation against a FIXED
  * subword vocabulary — the real tokenizer shape (BERT's WordPiece /
  * the greedy half of BPE apply), one tight loop per row: each
  * whitespace word is consumed left-to-right by the longest vocab
  * entry prefixing the remainder, single-character fallback for
  * out-of-vocabulary spans. Deterministic and SQL-replayable: the
  * oracle replays the same greedy loop as a recursive CTE with the
  * vocabulary inlined longest-first.
  */
case class WordPieces(child: Expression, vocab: Seq[String])
    extends UnaryKernel[UTF8String] {
  require(vocab.nonEmpty && vocab.forall(_.nonEmpty) &&
    vocab == vocab.distinct, "non-empty distinct vocab")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_pieces"

  // longest-first, ties by lexical order — the match order IS the
  // tokenizer definition, so it must be stable
  private val ordered: Array[String] =
    vocab.sortBy(v => (-v.length, v)).toArray

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var wFrom = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        var p = wFrom
        while (p < i) {
          var matched: String = null
          var v = 0
          while (matched == null && v < ordered.length) {
            val cand = ordered(v)
            if (p + cand.length <= i && s.startsWith(cand, p))
              matched = cand
            v += 1
          }
          if (matched == null) {
            out += UTF8String.fromString(s.substring(p, p + 1))
            p += 1
          } else {
            out += UTF8String.fromString(matched)
            p += matched.length
          }
        }
        wFrom = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression)
      : WordPieces = copy(child = newChild)
}

/** Byte-pair-encoding APPLY against a FIXED ordered merge table — the
  * other half of the subword-tokenizer pair (WordPieces is the greedy
  * longest-match form; this is the merge-rank form GPT-2/SentencePiece
  * BPE uses). Each whitespace word starts as its character sequence;
  * while any adjacent token pair appears in the merge table, the pair
  * with the LOWEST rank is merged at its LEFTMOST occurrence, one
  * merge per step. Single-occurrence-per-step semantics make the loop
  * SQL-replayable: the oracle replays it as a recursive CTE over the
  * persisted merge table ('|a|b|' substring search on a
  * '|'-separated token string + one splice per recursion step), so the
  * full segmentation is hash-compared, not just counts. Merging one
  * occurrence at a time reaches the same fixpoint as the classic
  * all-occurrences pass: re-scanning always re-selects the same pair
  * while any occurrence of it remains.
  *
  * The merge table itself is driver-trained (Sennrich count-and-merge
  * over the top-K corpus words — see TextOps.learnBpeMerges) and
  * broadcast into the kernel as a literal, the same
  * trained-model-as-artifact shape as the IVF centroids.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryKernel[UTF8String] {
  require(merges.nonEmpty && merges == merges.distinct,
    "non-empty distinct merge table")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  private val lefts: Array[String] = merges.map(_._1).toArray
  private val rights: Array[String] = merges.map(_._2).toArray

  /** One word → its BPE token sequence, appended to `out`. */
  private def encodeWord(s: String, from: Int, until: Int,
                         out: scala.collection.mutable.ArrayBuffer[UTF8String])
      : Unit = {
    var toks = new Array[String](until - from)
    var n = 0
    var i = from
    while (i < until) { toks(n) = String.valueOf(s.charAt(i)); n += 1; i += 1 }
    var merged = true
    while (merged && n > 1) {
      merged = false
      // lowest rank first; leftmost occurrence of that pair
      var r = 0
      while (!merged && r < lefts.length) {
        val a = lefts(r); val b = rights(r)
        var j = 0
        while (!merged && j < n - 1) {
          if (toks(j) == a && toks(j + 1) == b) {
            toks(j) = a + b
            var k = j + 1
            while (k < n - 1) { toks(k) = toks(k + 1); k += 1 }
            n -= 1
            merged = true
          }
          j += 1
        }
        r += 1
      }
    }
    var t = 0
    while (t < n) { out += UTF8String.fromString(toks(t)); t += 1 }
  }

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var wFrom = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > wFrom) encodeWord(s, wFrom, i, out)
        wFrom = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression)
      : BpeEncode = copy(child = newChild)
}

/** Sorted distinct 64-bit hashes of the k-word shingles of a string:
  * the fused form of `wordShingles` + per-shingle hashing. Tokens are
  * the single-space split (empties kept — same as Spark `split` and
  * DuckDB `string_split`); a shingle hash covers the k tokens joined
  * by a single space, hashed without materializing the joined string.
  * Empty array when the text has fewer than k tokens.
  */
case class HashedWordShingles(child: Expression, k: Int)
    extends UnaryKernel[UTF8String] {
  require(k > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_word_shingles"

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    // token boundaries of the single-space split, empties kept
    var nTok = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') nTok += 1; i += 1 }
    if (nTok < k) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = s.length + 1
    val m = nTok - k + 1
    val hs = new Array[Long](m)
    var w = 0
    while (w < m) {
      // hash chars of tokens w..w+k-1 joined by ' ' — that span of the
      // original string IS the joined shingle (separators are spaces).
      hs(w) = TextHash.hashChars(s, starts(w), starts(w + k) - 1)
      w += 1
    }
    TextHash.toArrayData(hs, TextHash.sortDedupe(hs, m))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashedWordShingles = copy(child = newChild)
}

/** Luhn (mod-10) checksum validation of an all-digit string — the
  * N10 PII detector upgrade from "looks like a card number" to "IS a
  * syntactically valid card number" (ISO/IEC 7812): walking from the
  * rightmost digit, every second digit doubles (minus 9 on overflow)
  * and the running sum must be ≡ 0 (mod 10). Returns false for empty
  * strings, any non-digit character, or lengths outside [13, 19]
  * (the PAN length envelope) — so a digit-run extractor can feed
  * candidates straight in. One codegen loop per row; the DuckDB
  * oracle recomputes the same fold with list arithmetic.
  */
case class LuhnValid(child: Expression) extends UnaryKernel[UTF8String] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_luhn_valid"

  def compute(u: UTF8String): Boolean = {
    val s = u.toString
    if (s.length < 13 || s.length > 19) return false
    var sum = 0
    var alt = false
    var i = s.length - 1
    while (i >= 0) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  override protected def withNewChildInternal(newChild: Expression)
      : LuhnValid = copy(child = newChild)
}

/** The oracle-visible rolling polynomial hash:
  * fold(chars)(acc·31 + codepoint) mod `m` — bit-identical to the
  * DuckDB `list_reduce(..., (acc, c) -> (acc*31+c) % m)` oracle form
  * (TextOps.polyHash), as one codegen loop per row.
  */
case class PolyHash31(child: Expression, m: Long)
    extends UnaryKernel[UTF8String] {
  require(m > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  def compute(u: UTF8String): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      // (acc*31 + c): acc < 1e9+7 < 2^30, so acc*31 + c < 2^35 — safe.
      acc = (acc * 31 + s.charAt(i)) % m
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PolyHash31 = copy(child = newChild)
}

/** Simpson-diversity numerator of a string's CODE-POINT frequencies:
  * Σ c_i·(c_i − 1) over the per-code-point counts c_i. Divided by
  * n·(n−1) downstream it is the probability two random characters of
  * the document are equal — the log-free repetition/diversity quality
  * signal (boilerplate and OCR noise concentrate mass on few chars).
  * Exact integers, so it oracle-checks bit-identically where a
  * Shannon-entropy kernel (log floats) could not. One pass per row —
  * the chars never explode into a shuffle; the fused form of the
  * explode-chars + per-doc-aggregate plan. Code points (not UTF-16
  * units) so counts match SQL substr/length semantics on all inputs.
  */
case class CharSimpson(child: Expression) extends UnaryKernel[UTF8String] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_char_simpson"

  def compute(u: UTF8String): Long = {
    val cps = u.toString.codePoints().toArray
    java.util.Arrays.sort(cps)
    var num = 0L
    var i = 0
    while (i < cps.length) {
      var j = i
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val c = (j - i).toLong
      num += c * (c - 1)
      i = j
    }
    num
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CharSimpson = copy(child = newChild)
}

/** The 64-bit SimHash signature of a text column as array<bigint>
  * [lo, hi] (two unsigned 32-bit halves — the oracle engine's checked
  * arithmetic would overflow on bit 63), fused into one loop: tokens =
  * the single-space split (empties kept), h = PolyHash31(token) mod
  * 1e9+7, bit b of the signature is 1 iff
  * Σ_tokens sign[(a_b·h + c_b) mod P ≥ P/2] > 0 — Charikar's SimHash
  * rounding with the exact TextOps.simhashAC constants the DuckDB
  * oracle interpolates, bit-identical to the unfused
  * explode + 64-column aggregate it replaces.
  */
case class SimHash64(child: Expression) extends UnaryKernel[UTF8String] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash64"

  def compute(u: UTF8String): ArrayData = {
    import graft.ops.TextOps.{FpMod, HalfP, P}
    val s = u.toString
    val as = SimHash64.as
    val cs = SimHash64.cs
    val votes = new Array[Int](64)
    var from = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        // token span [from, i): fold the polynomial hash, then vote
        var h = 0L
        var j = from
        while (j < i) { h = (h * 31 + s.charAt(j)) % FpMod; j += 1 }
        var b = 0
        while (b < 64) {
          // Mersenne fold == `% P` exactly (P = 2^31 - 1, product
          // < 2^61; see MinHashBands) — the 64-vote loop per token is
          // the kernel's hot path
          val x = as(b) * h + cs(b)
          val y = (x & P) + (x >>> 31)
          val z = (y & P) + (y >>> 31)
          val v = if (z >= P) z - P else z
          if (v >= HalfP) votes(b) += 1
          else votes(b) -= 1
          b += 1
        }
        from = i + 1
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) lo |= 1L << b
      if (votes(b + 32) > 0) hi |= 1L << b
      b += 1
    }
    new GenericArrayData(Array(lo, hi))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SimHash64 = copy(child = newChild)
}

object SimHash64 {
  private val as: Array[Long] =
    graft.ops.TextOps.simhashAC.map(_._1).toArray
  private val cs: Array[Long] =
    graft.ops.TextOps.simhashAC.map(_._2).toArray
}

/** Bucketed byte histogram of a binary payload: counts of
  * (unsigned byte mod nBuckets) — the bag-of-bytes feature extractor
  * of the multimodal pipeline (N5), one codegen loop per row.
  */
case class ByteHistogram(child: Expression, nBuckets: Int)
    extends UnaryKernel[Array[Byte]] {
  require(nBuckets > 0)

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_byte_histogram"

  def compute(bytes: Array[Byte]): ArrayData = {
    val h = new Array[Long](nBuckets)
    var i = 0
    while (i < bytes.length) {
      h((bytes(i) & 0xff) % nBuckets) += 1
      i += 1
    }
    new GenericArrayData(h)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ByteHistogram = copy(child = newChild)
}

/** |A ∩ B| of two SORTED distinct array<bigint> columns — one merge
  * pass, no allocation. Inputs must be sorted ascending (the contract
  * of HashedCharGrams / HashedWordShingles).
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two quantized array<bigint> vectors —
  * the codegen form of Dedup.qdot. Shorter-length semantics follow
  * zip_with-on-equal-length (vectors in one table share a dimension;
  * mismatched lengths take the common prefix).
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var dot = 0L
    while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
    dot
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

/** Fused repetition-stats kernel: one pass over the text computing
  * [n_tokens, n_distinct_tokens, n_bigrams, top_bigram_count] — the
  * integer core of the Gopher/MassiveText repetition filters
  * (graft.ops.CorpusOps.repetitionStats).
  *
  * The expression-tree form (transform ∘ filter over array_distinct)
  * evaluates interpreted lambdas per bigram pair — O(d·n) boxed calls
  * per row outside codegen. This kernel does the same work in one
  * tokenize pass + two exact hash maps and stays inside whole-stage
  * codegen via a single compute() call. Token/bigram identity is by
  * exact STRING (never a hash), so counts are bit-identical to the
  * relational DuckDB oracle by construction.
  */
case class RepetitionStats(child: Expression) extends UnaryKernel[UTF8String] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repetition_stats"

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    // split(' ') semantics incl. empty tokens (limit = -1), exactly
    // like functions.split / DuckDB string_split
    val distinct = new java.util.HashSet[String]()
    val bigram = new java.util.HashMap[String, java.lang.Long]()
    var nTokens = 0L
    var prev: String = null
    var top = 0L
    var from = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        val tok = s.substring(from, i)
        nTokens += 1
        distinct.add(tok)
        if (prev != null) {
          val bg = prev + " " + tok
          val old = bigram.get(bg)
          val c = if (old == null) 1L else old.longValue() + 1L
          bigram.put(bg, java.lang.Long.valueOf(c))
          if (c > top) top = c
        }
        prev = tok
        from = i + 1
      }
      i += 1
    }
    val nBigrams = if (nTokens >= 2) nTokens - 1 else 0L
    new GenericArrayData(
      Array(nTokens, distinct.size.toLong, nBigrams, top))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : RepetitionStats = copy(child = newChild)
}

/** Fused language-ID vote of an (already-lowercased) text column: one
  * loop splits on single spaces (empties kept, exactly `split(t, " ")`
  * / DuckDB `string_split`) and counts exact marker-stopword hits per
  * language; the result is the first language in marker order whose
  * count is positive and maximal, else "unknown" — bit-identical to
  * the unfused `greatest` + `when`-chain over four interpreted
  * higher-order `filter` calls it replaces (TextOps.langId), which
  * re-tokenized the document once per embedded subexpression.
  */
case class LangIdVote(child: Expression,
                      markers: Seq[(String, Seq[String])])
    extends UnaryKernel[UTF8String] {
  require(markers.nonEmpty && markers.forall(_._2.nonEmpty))

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid_vote"

  @transient private lazy val langs: Array[String] =
    markers.map(_._1).toArray
  // markers are distinct across languages (asserted at construction),
  // so a token votes for at most one language and matching can stop at
  // the first hit
  @transient private lazy val markerChars: Array[Array[Array[Char]]] =
    markers.map(_._2.map(_.toCharArray).toArray).toArray
  require(markers.flatMap(_._2).distinct.size ==
    markers.map(_._2.size).sum, "marker tokens must be globally distinct")

  private def spanEquals(s: String, from: Int, until: Int,
                         m: Array[Char]): Boolean = {
    if (until - from != m.length) return false
    var j = 0
    while (j < m.length) {
      if (s.charAt(from + j) != m(j)) return false
      j += 1
    }
    true
  }

  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    val counts = new Array[Int](langs.length)
    var from = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        var l = 0
        var matched = false
        while (l < langs.length && !matched) {
          val ms = markerChars(l)
          var k = 0
          while (k < ms.length && !matched) {
            if (spanEquals(s, from, i, ms(k))) {
              counts(l) += 1
              matched = true
            }
            k += 1
          }
          l += 1
        }
        from = i + 1
      }
      i += 1
    }
    var best = 0
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) best = counts(l)
      l += 1
    }
    if (best == 0) return LangIdVote.unknown
    l = 0
    while (l < counts.length) {
      if (counts(l) == best) return UTF8String.fromString(langs(l))
      l += 1
    }
    LangIdVote.unknown // unreachable: best > 0 came from some counts(l)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : LangIdVote = copy(child = newChild)
}

object LangIdVote {
  private val unknown = UTF8String.fromString("unknown")
}

/** Hashed-linear text-classifier score (the fastText/VW inference
  * shape: tokenize → hash to a fixed-width weight table → sum): one
  * loop per row folds each single-space token's 31-polynomial hash
  * (mod 1e9+7, the oracle-visible PolyHash31 recipe) into an index
  * mod weights.length and accumulates that integer weight. Pure int64
  * arithmetic — order-independent and bit-identical to the DuckDB
  * list_transform/list_reduce oracle form. At 100 TB this is the
  * model-based quality-filter pass: a pure map, no shuffle, with the
  * weight table a per-task array (a real model would broadcast it).
  */
case class HashedLinearScore(child: Expression, weights: Array[Long])
    extends UnaryKernel[UTF8String] {
  require(weights.nonEmpty)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_linear_score"

  def compute(u: UTF8String): Long = {
    val s = u.toString
    val d = weights.length
    var acc = 0L
    var h = 0L
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        acc += weights((h % d).toInt) // h in [0, 1e9+7) — no negatives
        h = 0L
      } else h = (h * 31 + s.charAt(i)) % graft.ops.TextOps.FpMod
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashedLinearScore = copy(child = newChild)

  // Array[Long] is compared by reference in case-class equality, which
  // would defeat Catalyst's canonicalization/CSE of identical scorers
  override def equals(other: Any): Boolean = other match {
    case h: HashedLinearScore =>
      child == h.child && java.util.Arrays.equals(weights, h.weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(weights)
}

/** Fused per-document quality counters
  * [n_chars, n_tokens, n_distinct_tokens, n_stop_tokens, alpha_chars]
  * in one loop per row: single-space tokens (empties kept), distinct
  * via a per-row hash set, stopword hits against a fixed list, alpha =
  * count of 'a'..'z' in the RAW text — bit-identical to the
  * length/split/array_distinct/filter/regexp_replace tree it replaces
  * (TextOps.quality), which ran an interpreted higher-order filter AND
  * a regex pass over every document.
  */
case class TokenQualityStats(child: Expression, stopwords: Seq[String])
    extends UnaryKernel[UTF8String] {
  require(stopwords.nonEmpty)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_quality_stats"

  @transient private lazy val stopChars: Array[Array[Char]] =
    stopwords.map(_.toCharArray).toArray

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val len = s.length
    var alpha = 0L
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') alpha += 1
      i += 1
    }
    val distinct = new java.util.HashSet[String]()
    var nTok = 0L
    var nStop = 0L
    var nAlphaWords = 0L
    var from = 0
    i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        nTok += 1
        distinct.add(s.substring(from, i))
        var k = 0
        var hit = false
        while (k < stopChars.length && !hit) {
          val m = stopChars(k)
          if (i - from == m.length) {
            var j = 0
            while (j < m.length && s.charAt(from + j) == m(j)) j += 1
            hit = j == m.length
          }
          k += 1
        }
        if (hit) nStop += 1
        // Gopher alpha-word rule input: does this word contain at
        // least one ASCII letter (either case)?
        var j = from
        var aw = false
        while (j < i && !aw) {
          val c = s.charAt(j)
          aw = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
          j += 1
        }
        if (aw) nAlphaWords += 1
        from = i + 1
      }
      i += 1
    }
    // length() counts codepoints, not UTF-16 units — match it exactly
    new GenericArrayData(Array(s.codePointCount(0, len).toLong,
      nTok, distinct.size.toLong, nStop, alpha, nAlphaWords))
  }

  override protected def withNewChildInternal(newChild: Expression)
      : TokenQualityStats = copy(child = newChild)
}

/** Fused Gopher repetition-coverage kernel (Rae et al. 2021 §A1.1):
  * one pass over the single-space-joined word sequence producing the
  * exact-integer inputs of the paper's nine repetition rules —
  *
  *   [n_tokens, n_wchars,
  *    top2_cov, top3_cov, top4_cov,          // most-frequent n-gram
  *    dup5_cov, dup6_cov, …, dup10_cov]      // duplicated n-grams
  *
  * where n_wchars = Σ codepoint-length(word) (word characters only,
  * separators excluded — the normalizer both fraction families share),
  * top{n}_cov = count(most frequent word n-gram) × word-chars(that
  * n-gram) with the most frequent gram chosen by (count DESC, gram
  * string ASC) so the pick is deterministic cross-engine, and
  * dup{n}_cov = Σ word-chars over the UNION of word positions covered
  * by any n-gram occurrence whose exact gram string appears ≥ 2 times
  * in the document (overlapping duplicated occurrences count each
  * position once — the paper's "characters contained within duplicate
  * n-grams"). Gram identity is the EXACT string (never a hash); a
  * coverage slot with n_tokens < n is 0 and the caller treats it as
  * no-evidence. Tokenization is `split(t, " ")` with empties kept,
  * exactly like DuckDB string_split.
  */
case class GopherCoverage(child: Expression) extends UnaryKernel[UTF8String] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gopher_coverage"

  /** Code-point-order string compare (== UTF-8 byte order, the
    * oracle's binary collation). java.lang.String.compareTo is UTF-16
    * code-UNIT order, which sorts supplementary-plane grams BELOW BMP
    * grams in [U+E000, U+FFFF] — a cross-engine tie-break divergence
    * whenever such grams tie on count.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val words = s.split(" ", -1)
    val t = words.length
    // per-word codepoint lengths (DuckDB length() counts codepoints)
    val wlen = new Array[Long](t)
    var nWchars = 0L
    var i = 0
    while (i < t) {
      wlen(i) = words(i).codePointCount(0, words(i).length).toLong
      nWchars += wlen(i)
      i += 1
    }
    val out = new Array[Long](11)
    out(0) = t.toLong
    out(1) = nWchars
    // top n-gram coverage, n = 2..4
    var n = 2
    while (n <= 4) {
      if (t >= n) {
        val counts = new java.util.HashMap[String, java.lang.Long]()
        val sb = new java.lang.StringBuilder()
        var bestC = 0L
        var bestG: String = null
        i = 0
        while (i <= t - n) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words(i + k))
            k += 1
          }
          val g = sb.toString
          val old = counts.get(g)
          val c = if (old == null) 1L else old.longValue() + 1L
          counts.put(g, java.lang.Long.valueOf(c))
          if (c > bestC || (c == bestC && cpCompare(g, bestG) < 0)) {
            bestC = c; bestG = g
          }
          i += 1
        }
        // word chars of the gram = string length − (n−1) separators,
        // in codepoints
        val gWchars = bestG.codePointCount(0, bestG.length).toLong - (n - 1)
        out(n) = bestC * gWchars
      }
      n += 1
    }
    // duplicated n-gram positional coverage, n = 5..10
    val covered = new Array[Boolean](t)
    n = 5
    while (n <= 10) {
      if (t >= n) {
        val counts = new java.util.HashMap[String, java.lang.Long]()
        val grams = new Array[String](t - n + 1)
        val sb = new java.lang.StringBuilder()
        i = 0
        while (i <= t - n) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words(i + k))
            k += 1
          }
          grams(i) = sb.toString
          val old = counts.get(grams(i))
          counts.put(grams(i),
            java.lang.Long.valueOf(if (old == null) 1L else old + 1L))
          i += 1
        }
        java.util.Arrays.fill(covered, false)
        i = 0
        while (i <= t - n) {
          if (counts.get(grams(i)) >= 2L) {
            var k = 0
            while (k < n) { covered(i + k) = true; k += 1 }
          }
          i += 1
        }
        var cov = 0L
        i = 0
        while (i < t) { if (covered(i)) cov += wlen(i); i += 1 }
        out(n - 5 + 5) = cov
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : GopherCoverage = copy(child = newChild)
}

/** Fused span-dedup signature kernel: the polyHash31-mod-m values of
  * the DISTINCT k-word shingles of a document, one pass per row — the
  * fused form of `wordShingles(text, k)` + per-gram `PolyHash31`,
  * which as an interpreted transform/element_at tree cost ~23 µs per
  * gram (r13 PERF_NOTES: 11 s of an 11 s sf0.1 span_dedup evaluation).
  * Dedup is on the EXACT gram string (never the hash), so two distinct
  * grams that collide mod m still emit two (equal) hash values —
  * bit-identical to the oracle's list_distinct-then-hash replay.
  * Output order is first-occurrence order (feeds explode + aggregates;
  * order-insensitive downstream). Docs shorter than k → empty array,
  * mirroring wordShingles.
  */
case class PolyShingleHashes(child: Expression, k: Int, m: Long)
    extends UnaryKernel[UTF8String] {
  require(k > 0 && m > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_poly_shingle_hashes"

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val words = s.split(" ", -1)
    val t = words.length
    if (t < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.HashSet[String]()
    val out = new Array[Long](t - k + 1)
    var n = 0
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= t - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val g = sb.toString
      if (seen.add(g)) {
        var acc = 0L
        var c = 0
        while (c < g.length) {
          acc = (acc * 31 + g.charAt(c)) % m
          c += 1
        }
        out(n) = acc
        n += 1
      }
      i += 1
    }
    val res = new Array[Long](n)
    System.arraycopy(out, 0, res, 0, n)
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PolyShingleHashes = copy(child = newChild)
}

/** Fused POSITIONAL k-word shingles: every k-gram string in document
  * order (index i ↔ word position i), duplicates kept — the unit the
  * ExactSubstr removal pass masks by position. One loop per row
  * replacing the interpreted transform(sequence, concat_ws(slice))
  * tree. Docs shorter than k → empty array.
  */
case class PositionalShingles(child: Expression, k: Int)
    extends UnaryKernel[UTF8String] {
  require(k > 0)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_positional_shingles"

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val words = s.split(" ", -1)
    val t = words.length
    if (t < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](t - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= t - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PositionalShingles = copy(child = newChild)
}

/** Fused probing shingle extractor: the DISTINCT k-word shingles of a
  * document whose xxhash64 (seed 42, over the gram's UTF-8 bytes —
  * bit-identical to `xxhash64(gram_string)`) passes a [[LongProbe]],
  * emitted as strings in first-occurrence order. One byte-level loop
  * per row replacing the
  * `wordShingles → explode → filter(probe(xxhash64(g)))` pipeline the
  * decontaminate family ran: token boundaries are the single-space
  * positions of `split(text, " ", -1)` (a 0x20 byte never occurs
  * inside a UTF-8 multi-byte sequence, so byte scanning finds the
  * same boundaries), and a k-gram joined with single spaces is
  * exactly the contiguous byte range from its first token's start to
  * its last token's end — so gram hashing and distinctness run over
  * byte ranges of the input with ZERO string materialization; only
  * probe SURVIVORS are copied out. Distinctness is exact (byte
  * compare on hash-table collision), matching `array_distinct` string
  * semantics on valid UTF-8 input.
  *
  * With [[AcceptAllProbe]] this is a fused `wordShingles` (all
  * distinct grams); with a [[GraftBloomFilter]] or [[LongHashProbe]]
  * the non-matching grams — the overwhelming majority in a
  * decontamination pass — never allocate anything.
  *
  * Docs shorter than k tokens → empty array, mirroring wordShingles —
  * and so does NULL text: `wordShingles(split(null))` yielded an empty
  * array (doc kept by the decontamination filter), so the fused kernel
  * must not propagate NULL and silently drop null-text docs.
  */
case class ShingleSurvivors(child: Expression, k: Int, probe: LongProbe)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0)

  override def nullable: Boolean = false

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_survivors"

  private def regionEq(b: Array[Byte], s1: Int, s2: Int, len: Int): Boolean = {
    var i = 0
    while (i < len) {
      if (b(s1 + i) != b(s2 + i)) return false
      i += 1
    }
    true
  }

  def compute(u: UTF8String): ArrayData = {
    if (u == null) return new GenericArrayData(Array.empty[Any])
    val b = u.getBytes
    val n = b.length
    var t = 1
    var i = 0
    while (i < n) { if (b(i) == 0x20) t += 1; i += 1 }
    if (t < k) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](t)
    var w = 1
    i = 0
    while (i < n) { if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }; i += 1 }
    val nG = t - k + 1
    // sizing in Long: nG * 2 in Int overflows negative at nG >= 2^30,
    // exiting the loop at cap=16 and hanging the insert loop on a full
    // table. A >=2^30-gram doc fails loudly instead.
    require(nG < (1 << 30),
      s"graft_shingle_survivors: $nG grams in one document exceeds the 2^30 cap")
    var cap = 16
    while (cap < nG.toLong * 2) cap <<= 1
    val hTab = new Array[Long](cap)
    val sTab = new Array[Int](cap)
    val lTab = new Array[Int](cap)
    java.util.Arrays.fill(lTab, -1)
    val out = new Array[Any](nG)
    var m = 0
    var g = 0
    while (g < nG) {
      val gs = starts(g)
      val ge = if (g + k < t) starts(g + k) - 1 else n
      val glen = ge - gs
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + gs, glen, 42L)
      var idx = (h ^ (h >>> 32)).toInt & (cap - 1)
      var isNew = false
      var done = false
      while (!done) {
        if (lTab(idx) == -1) {
          hTab(idx) = h; sTab(idx) = gs; lTab(idx) = glen
          isNew = true; done = true
        } else if (hTab(idx) == h && lTab(idx) == glen &&
            regionEq(b, sTab(idx), gs, glen)) {
          done = true
        } else idx = (idx + 1) & (cap - 1)
      }
      if (isNew && probe.mightContain(h)) {
        out(m) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, gs, ge))
        m += 1
      }
      g += 1
    }
    val res = new Array[Any](m)
    System.arraycopy(out, 0, res, 0, m)
    new GenericArrayData(res)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleSurv", this,
      classOf[ShingleSurvivors].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        ArrayData ${ev.value} =
          $self.compute(${childGen.isNull} ? null : ${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleSurvivors = copy(child = newChild)
}
