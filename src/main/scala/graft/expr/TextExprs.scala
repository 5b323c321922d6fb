package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{array_min, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.html.HtmlText

/** Deterministic 64-bit hashing primitives shared by the text-analysis
  * expressions. FNV-1a and splitmix64 are fixed public algorithms —
  * results are bit-identical on every JVM (byte-identity discipline,
  * SURVEY.md §7.7). */
object Hash64 {
  val FnvOffset = 0xcbf29ce484222325L
  val FnvPrime = 0x100000001b3L

  def fnv1a(s: String, from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      // hash UTF-16 code units directly (fixed, documented choice)
      val c = s.charAt(i)
      h = (h ^ (c & 0xff)) * FnvPrime
      h = (h ^ ((c >> 8) & 0xff)) * FnvPrime
      i += 1
    }
    h
  }
  def fnv1a(s: String): Long = fnv1a(s, 0, s.length)

  /** One FNV-1a step over a UTF-16 code unit (the two-byte schedule
    * fnv1a uses) — lets callers hash a virtual string (tokens plus
    * separators) without materializing it. */
  @inline def fnv1aStep(h0: Long, c: Char): Long = {
    var h = (h0 ^ (c & 0xff)) * FnvPrime
    h = (h ^ ((c >> 8) & 0xff)) * FnvPrime
    h
  }

  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** `graft_simhash(text) -> BIGINT` — 64-bit SimHash over whitespace
  * tokens (Charikar 2002): per-token FNV-1a hash votes ±1 on each bit;
  * the sign vector is the fingerprint. Near-duplicate docs differ in
  * few bits (hamming distance), enabling band-join dedup at scale. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val acc = new Array[Int](64)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val h = Hash64.fnv1a(s, start, i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** `graft_minhash(text) -> ARRAY<BIGINT>` — K-permutation MinHash
  * signature over word 3-gram shingles (Broder 1997). Permutation i is
  * splitmix64(shingleHash ^ mix(SeedBase + i)); the signature element
  * is the minimum over shingles. Banding for LSH happens in plain
  * column math downstream (`xxhash64(slice(sig, …))`). */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import MinHashSig._
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(K)(i => Hash64.mix(SeedBase + i))

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val sig = Array.fill(K)(Long.MaxValue)
    // rolling word-3-gram shingles without materializing the token list
    var w0 = 0L; var w1 = 0L // previous two word hashes
    var seen = 0 // words consumed so far
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val w2 = Hash64.fnv1a(s, start, i)
        seen += 1
        if (seen >= 3) { // shingle emitted from the 3rd word on
          val shingle = Hash64.mix(w0 ^ Hash64.mix(w1) ^ Hash64.mix(Hash64.mix(w2)))
          var j = 0
          while (j < K) {
            val h = Hash64.mix(shingle ^ seeds(j))
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
        w0 = w1; w1 = w2
      }
    }
    new GenericArrayData(sig.map(l => l: Any))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The one MinHash definition: signature length, LSH banding,
  * near-dup threshold, seeds and the no-shingle sentinel. Dedup's
  * batch ops, the streaming twin and the d3/d6/d9/d12 oracle builder
  * all read it. */
object MinHashSig {
  /** Permutations (signature positions). */
  val K = 64
  /** LSH bands of `Rows` positions each; Bands × Rows = K. */
  val Bands = 16
  val Rows: Int = K / Bands
  /** A pair is a near-dup when matching positions / K reach this. */
  val Threshold = 0.5
  /** Permutation i is seeded with splitmix64(SeedBase + i). */
  val SeedBase = 0x5eed0000L
  /** False for a text of fewer than 3 words: it has no shingle, so
    * every position keeps the Long.MaxValue sentinel, and two such
    * texts would match in every band with estimate 1.0. */
  def hasShingles(sig: Column): Column = array_min(sig) =!= lit(Long.MaxValue)
}

/** The SINGLE word-boundary scan shared by [[Shingles]] and
  * [[TokenWindowHashes]]: one definition of "a token" (whitespace =
  * `HtmlText.isWs`, Java whitespace + NBSP) for similarity
  * shingles and exact-substring windows alike — the same
  * one-implementation discipline as FusedSegmenter/classifyRaw. */
private[expr] object WordBounds {
  /** (starts, ends) index pairs of each token in `s`, single pass. */
  def scan(s: String): (Array[Int], Array[Int]) = {
    val n = s.length
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    val ends = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < n) {
      while (i < n && HtmlText.isWs(s.charAt(i))) i += 1
      if (i < n) {
        starts += i
        while (i < n && !HtmlText.isWs(s.charAt(i))) i += 1
        ends += i
      }
    }
    (starts.toArray, ends.toArray)
  }
}

/** `graft_shingles(text) -> ARRAY<STRING>` — distinct word 3-gram
  * shingles in one pass (the built-in `transform(sequence…, slice…)`
  * formulation is O(words²) per document; this is O(chars)). Exact
  * same output set as Dedup.shinglesBuiltin — asserted in OpsSpec. */
case class Shingles(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val (starts, ends) = WordBounds.scan(s)
    val w = starts.length
    if (w < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k + 2 < w) {
      sb.setLength(0)
      sb.append(s, starts(k), ends(k)).append(' ')
        .append(s, starts(k + 1), ends(k + 1)).append(' ')
        .append(s, starts(k + 2), ends(k + 2))
      seen.add(UTF8String.fromString(sb.toString))
      k += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** `graft_token_windows(text, k) -> ARRAY<BIGINT>` — POSITIONAL
  * k-token window hashes, stride 1: element j is the FNV-1a hash of
  * tokens j..j+k-1 joined with single spaces (hashed as a virtual
  * string — no materialization). Unlike [[Shingles]] (a distinct SET
  * of 3-grams for similarity), this keeps every window in order: the
  * primitive for EXACT-SUBSTRING dedup à la Lee et al. 2021
  * ("Deduplicating Training Data Makes Language Models Better"),
  * where any k-token run already seen elsewhere in the corpus marks a
  * duplicated span. Tokenization matches Shingles (Java whitespace +
  * NBSP). Fewer than k tokens → empty array. */
case class TokenWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be >= 1, got $k")
  override def prettyName: String = "graft_token_windows"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val (starts, ends) = WordBounds.scan(s)
    val w = starts.length
    if (w < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](w - k + 1)
    var j = 0
    while (j + k <= w) {
      var h = Hash64.FnvOffset
      var t = j
      while (t < j + k) {
        if (t > j) h = Hash64.fnv1aStep(h, ' ')
        var c = starts(t)
        while (c < ends(t)) { h = Hash64.fnv1aStep(h, s.charAt(c)); c += 1 }
        t += 1
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_fingerprint(text) -> ARRAY<BIGINT>` — winnowing document
  * fingerprint (Schleimer et al., SIGMOD 2003): rolling hash over
  * character 8-grams, minimum per non-overlapping 16-hash window,
  * deduplicated, sorted. Robust to small edits; used for
  * containment-style overlap detection. */
case class Winnow(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_fingerprint"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val Gram = 8
  private val Window = 16 // t4's oracle groups `pos // 16`

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val n = s.length
    if (n < Gram) return new GenericArrayData(Array.empty[Any])
    val m = n - Gram + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = Hash64.mix(Hash64.fnv1a(s, i, i + Gram)); i += 1 }
    val out = scala.collection.mutable.TreeSet.empty[Long]
    var w = 0
    while (w + Window <= m) {
      var best = Long.MaxValue
      var j = w
      while (j < w + Window) { if (hs(j) < best) best = hs(j); j += 1 }
      out += best
      w += Window // non-overlapping windows: fixed deterministic scheme
    }
    if (w < m) { // tail window
      var best = Long.MaxValue
      var j = w
      while (j < m) { if (hs(j) < best) best = hs(j); j += 1 }
      out += best
    }
    new GenericArrayData(out.toArray.map(l => l: Any))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_mix64(id) -> BIGINT` — the splitmix64 finalizer over a long
  * key. The building block for deterministic, reshuffle-stable
  * assignment problems: train/val/test splits, sampling, A/B salt —
  * anywhere "a stable pseudo-random value per id" beats rand() (which
  * changes across retries/recomputation and breaks exactly-once
  * semantics under task reruns). Wraparound arithmetic is exact in
  * Java longs regardless of ANSI mode (no Column-level overflow). */
case class SplitMix64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_mix64"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Hash64.mix(v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** `graft_fnv64(text) -> BIGINT` — FNV-1a over the string's UTF-16
  * code units (the [[Hash64.fnv1a]] two-byte schedule — exactly the
  * hash the d8 oracle recomputes per word in SQL, so string-keyed
  * dedup ops can shuffle 8-byte hashes instead of full paragraph
  * strings and an oracle can mirror the keys bit-for-bit, collisions
  * included). Empty string hashes to the FNV offset basis. */
case class Fnv64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_fnv64"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Hash64.fnv1a(v.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** `graft_nfc(text) -> STRING` — Unicode NFC normalization
  * (canonical composition, `java.text.Normalizer`): the standard
  * first step for web text, where the same visible string arrives as
  * precomposed codepoints from one page and base+combining sequences
  * from another, silently defeating exact dedup and shingle/token
  * equality. Pure-ASCII rows (the overwhelming majority of a crawl;
  * detected byte-level: numBytes == numChars ⇔ no multi-byte
  * sequences) are NFC by definition and return the input without any
  * String materialization; non-ASCII rows go through the
  * `isNormalized` quick check before the (rare) composing pass. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_nfc"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    if (u.numBytes == u.numChars) return v // pure ASCII ⇒ already NFC
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** `graft_langid(text) -> STRING` — script-ratio language heuristic
  * mirroring the reference's lang dimension (`ara+eng`/`ara`/`eng`,
  * main_window.py:460): counts Arabic-block vs Latin letters;
  * ≥70% Arabic → "ar", ≥5% both → "mixed", else "en". Deterministic
  * integer thresholds. */
case class LangId(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_langid"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    var ar = 0L; var lat = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 0x0600 && c <= 0x06FF) || (c >= 0x0750 && c <= 0x077F)) ar += 1
      else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) lat += 1
      i += 1
    }
    val total = ar + lat
    val lang =
      if (total == 0) "und"
      else if (ar * 10 >= total * 7) "ar"
      else if (ar * 20 >= total && lat * 20 >= total) "mixed"
      else if (ar > lat) "ar"
      else "en"
    UTF8String.fromString(lang)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** The ONE `<a` start-tag scan, shared by [[Outlinks]] and [[Anchors]].
  * x13's oracle freezes this scan and g4's the anchor-text rules built
  * on it: change either only in lockstep with its oracle. Whitespace is
  * `Character.isWhitespace` (no NBSP), as both oracles mirror. */
private[expr] object AnchorTag {
  @inline private def isWs(c: Char) = Character.isWhitespace(c)

  /** Index of the '>' that closes the tag whose attributes start at
    * `from`, or `s.length` if none: a '>' inside a quoted attribute
    * value does not end the tag, and an unterminated quote runs to EOF.
    * The nested-tag skip of graft_anchors and graft_meta, which read
    * their column as a `String`. */
  def tagEnd(s: String, from: Int): Int = {
    val n = s.length
    var j = from
    while (j < n) {
      val a = s.charAt(j)
      if (a == '"' || a == '\'') {
        val q = s.indexOf(a, j + 1)
        j = if (q < 0) n else q + 1
      } else if (a == '>') return j
      else j += 1
    }
    n
  }

  /** Is s(i) the start of an `<a …>` tag? */
  def isOpen(s: String, i: Int): Boolean = {
    val n = s.length
    s.charAt(i) == '<' && i + 1 < n &&
      (s.charAt(i + 1) == 'a' || s.charAt(i + 1) == 'A') &&
      (i + 2 >= n || isWs(s.charAt(i + 2)) || s.charAt(i + 2) == '>' ||
        s.charAt(i + 2) == '/')
  }

  /** Quote-aware scan from the char after the tag name to the closing
    * '>' (a '>' inside a quoted attribute value does not end the tag).
    * `href` must be preceded by whitespace (so `data-href` never
    * matches); its value may be quoted or bare and is returned raw.
    * Returns (first href or null, index after '>' or the length). */
  def scan(s: String, from: Int): (String, Int) = {
    val n = s.length
    var k = from
    var href: String = null
    while (k < n && s.charAt(k) != '>') {
      val c = s.charAt(k)
      if (c == '"' || c == '\'') { // quoted value of some attribute
        k += 1
        while (k < n && s.charAt(k) != c) k += 1
        if (k < n) k += 1
      } else if (href == null && isWs(c) && k + 4 < n &&
          s.regionMatches(true, k + 1, "href", 0, 4)) {
        var p = k + 5
        while (p < n && isWs(s.charAt(p))) p += 1
        if (p < n && s.charAt(p) == '=') {
          p += 1
          while (p < n && isWs(s.charAt(p))) p += 1
          if (p < n && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
            val q = s.charAt(p)
            val st = p + 1
            var e = st
            while (e < n && s.charAt(e) != q) e += 1
            href = s.substring(st, e)
            k = math.min(e + 1, n)
          } else { // bare value: up to whitespace or '>'
            val st = p
            var e = st
            while (e < n && !isWs(s.charAt(e)) && s.charAt(e) != '>') e += 1
            href = s.substring(st, e)
            k = e
          }
        } else k += 1
      } else k += 1
    }
    (href, if (k < n) k + 1 else n)
  }
}

/** `graft_outlinks(html) -> ARRAY<STRING>` — href targets of `<a>`
  * tags in document order, duplicates preserved: the web-graph edge
  * primitive (outlink extraction feeds link-graph construction and
  * u1-style URL canonicalization downstream). Each `<a` start tag is
  * read by [[AnchorTag]]; the scan then resumes right after its '>',
  * so an `<a` inside a nested tag's quoted attribute still counts
  * (unlike [[Anchors]], which strips nested tags whole). Hrefs are
  * returned raw — canonicalize later. */
case class Outlinks(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_outlinks"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    while (i < n) {
      if (AnchorTag.isOpen(s, i)) {
        val (href, after) = AnchorTag.scan(s, i + 2)
        if (href != null) out += UTF8String.fromString(href)
        i = after
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_anchors(html) -> ARRAY<STRUCT<href, anchor>>` — href-bearing
  * `<a>` tags with their visible anchor text, in document order: the
  * anchor-text primitive (inbound-anchor aggregation is a classic
  * web-corpus signal — target-page titling/description at link-graph
  * scale). The `<a` start tag is read by [[AnchorTag]], shared with
  * [[Outlinks]]. Anchor text rules, fixed and oracle-mirrorable:
  *   - nested tags inside the anchor are stripped (`<b>`, `<img …>`);
  *   - a new `<a` start tag implicitly closes the open anchor (the
  *     HTML5 rule) and is re-scanned as the next anchor;
  *   - EOF closes an open anchor;
  *   - whitespace runs collapse to one space, ends trimmed
  *     (Character.isWhitespace);
  *   - anchors without an href attribute are skipped entirely.
  * Entities stay raw — canonicalize downstream if needed. */
case class Anchors(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_anchors"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("href", StringType, nullable = false),
      StructField("anchor", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    @inline def isWs(c: Char) = Character.isWhitespace(c)
    var i = 0
    while (i < n) {
      if (AnchorTag.isOpen(s, i)) {
        val (href, bodyStart) = AnchorTag.scan(s, i + 2)
        // collect visible text to </a>, EOF, or an implicit-close `<a`
        val sb = new java.lang.StringBuilder(32)
        var lastWs = true // leading ws is dropped (trim-left as we go)
        var j = bodyStart
        var resume = -1
        while (j < n && resume < 0) {
          val c = s.charAt(j)
          if (c == '<') {
            if (j + 2 < n && s.charAt(j + 1) == '/' &&
                (s.charAt(j + 2) == 'a' || s.charAt(j + 2) == 'A') &&
                (j + 3 >= n || s.charAt(j + 3) == '>' || isWs(s.charAt(j + 3)))) {
              var e = j + 3
              while (e < n && s.charAt(e) != '>') e += 1
              resume = if (e < n) e + 1 else n
            } else if (AnchorTag.isOpen(s, j)) {
              resume = j // implicit close — re-scan as the next anchor
            } else { // strip the nested tag, quote-aware
              j = math.min(AnchorTag.tagEnd(s, j + 1) + 1, n)
            }
          } else {
            if (isWs(c)) {
              if (!lastWs) { sb.append(' '); lastWs = true }
            } else { sb.append(c); lastWs = false }
            j += 1
          }
        }
        if (resume < 0) resume = n
        if (href != null) {
          var len = sb.length()
          if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1 // trim-right
          out += InternalRow(UTF8String.fromString(href),
            UTF8String.fromString(sb.substring(0, len)))
        }
        i = resume
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `graft_meta(html) -> STRUCT<title, description, canonical, noindex>`
  * — head-metadata extraction, row-local: the crawl-hygiene companion
  * to main-content extraction (title/description feed document
  * records; rel=canonical powers URL-level dedup; meta-robots noindex
  * is a keep/drop signal).
  *
  * Fixed rules (oracle-mirrorable):
  *   - `title`: text of the FIRST `<title>` element, whitespace runs
  *     collapsed to one space, ends trimmed; null if absent.
  *   - `description`: `content` attribute of the first
  *     `<meta name="description">` (attribute order-insensitive,
  *     names case-insensitive); null if absent.
  *   - `canonical`: `href` of the first `<link rel="canonical">`;
  *     null if absent.
  *   - `noindex`: true iff any `<meta name="robots">` content
  *     contains "noindex" (case-insensitive).
  * Attribute scanning is quote-aware like [[Outlinks]]/[[Anchors]];
  * values may be quoted or bare. Entities stay raw. */
case class MetaTags(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "graft_meta"
  override def dataType: DataType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("description", StringType, nullable = true),
    StructField("canonical", StringType, nullable = true),
    StructField("noindex", BooleanType, nullable = false)))
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val n = s.length
    @inline def isWs(c: Char) = Character.isWhitespace(c)
    var title: String = null
    var description: String = null
    var canonical: String = null
    var noindex = false
    // parse name[=value] attribute pairs from `from` to the closing
    // '>'; returns (lowercased-name -> raw value, index after '>')
    def scanAttrs(from: Int): (Map[String, String], Int) = {
      var k = from
      val m = scala.collection.mutable.Map[String, String]()
      while (k < n && s.charAt(k) != '>') {
        val c = s.charAt(k)
        if (isWs(c) || c == '/') k += 1
        else {
          val nameSt = k
          while (k < n && !isWs(s.charAt(k)) && s.charAt(k) != '=' &&
            s.charAt(k) != '>' && s.charAt(k) != '/') k += 1
          val name = s.substring(nameSt, k).toLowerCase
          var p = k
          while (p < n && isWs(s.charAt(p))) p += 1
          if (p < n && s.charAt(p) == '=') {
            p += 1
            while (p < n && isWs(s.charAt(p))) p += 1
            if (p < n && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
              val q = s.charAt(p)
              val st = p + 1
              var e = st
              while (e < n && s.charAt(e) != q) e += 1
              if (name.nonEmpty && !m.contains(name)) m(name) = s.substring(st, e)
              k = math.min(e + 1, n)
            } else {
              val st = p
              var e = st
              while (e < n && !isWs(s.charAt(e)) && s.charAt(e) != '>') e += 1
              if (name.nonEmpty && !m.contains(name)) m(name) = s.substring(st, e)
              k = e
            }
          } else {
            if (name.nonEmpty && !m.contains(name)) m(name) = ""
            k = p
          }
        }
      }
      (m.toMap, if (k < n) k + 1 else n)
    }
    def collapse(t: String): String = {
      val sb = new java.lang.StringBuilder(t.length)
      var lastWs = true
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (isWs(c)) { if (!lastWs) { sb.append(' '); lastWs = true } }
        else { sb.append(c); lastWs = false }
        i += 1
      }
      var len = sb.length()
      if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1
      sb.substring(0, len)
    }
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        // read the tag name
        var k = i + 1
        while (k < n && Character.isLetter(s.charAt(k))) k += 1
        val tag = s.substring(math.min(i + 1, n), k).toLowerCase
        tag match {
          case "title" =>
            // skip to the end of the open tag, then capture to </title
            var e = k
            while (e < n && s.charAt(e) != '>') e += 1
            val bodySt = if (e < n) e + 1 else n
            var b = bodySt
            var end = -1
            while (b < n && end < 0) {
              if (s.charAt(b) == '<' && b + 6 < n &&
                  s.regionMatches(true, b, "</title", 0, 7)) end = b
              else b += 1
            }
            if (end < 0) end = n
            if (title == null) title = collapse(s.substring(bodySt, end))
            var after = end
            while (after < n && s.charAt(after) != '>') after += 1
            i = if (after < n) after + 1 else n
          case "meta" =>
            val (attrs, after) = scanAttrs(k)
            val nameAttr = attrs.getOrElse("name", "").toLowerCase
            if (nameAttr == "description" && description == null)
              description = attrs.getOrElse("content", null)
            if (nameAttr == "robots" &&
                attrs.getOrElse("content", "").toLowerCase.contains("noindex"))
              noindex = true
            i = after
          case "link" =>
            val (attrs, after) = scanAttrs(k)
            if (attrs.getOrElse("rel", "").equalsIgnoreCase("canonical") &&
                canonical == null)
              canonical = attrs.get("href").orNull
            i = after
          case _ => // skip any other tag quote-aware
            i = math.min(AnchorTag.tagEnd(s, k) + 1, n)
        }
      } else i += 1
    }
    @inline def u(x: String): UTF8String =
      if (x == null) null else UTF8String.fromString(x)
    InternalRow(u(title), u(description), u(canonical), noindex)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
