package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for the text-dedup primitives, each bound to Catalyst by a
  * `StaticInvoke` (the `...Call` builders at the end) — the documented
  * upgrade from the scalar UDFs they replace (same algorithms
  * byte-for-byte; every consumer is covered by a DuckDB oracle, so the swap
  * is verified bit-exact by the gate).
  *
  * Why a static call beats the UDFs at scale: it runs inside whole-stage
  * codegen — no ScalaUDF encoder boundary, no per-row catalyst↔scala
  * conversion of the input string, and the codegen span around the call
  * stays unbroken (the UDF forced a codegen fence).
  */
object TextKernels {

  /** First 4 md5 digest bytes as an unsigned big-endian int — bit-identical
    * to `conv(substring(md5(x), 1, 8), 16, 10)`.
    */
  private def md5Prefix(s: String, md: java.security.MessageDigest): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def wordShingleSeq(text: String, n: Int): IndexedSeq[String] = {
    val tk = text.split(' ')
    if (tk.length < n) Vector.empty
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i <= tk.length - n) {
        seen += tk.slice(i, i + n).mkString(" ")
        i += 1
      }
      seen.toVector
    }
  }

  def wordShingles(t: UTF8String, n: Int): GenericArrayData =
    new GenericArrayData(
      wordShingleSeq(t.toString, n).iterator.map(s => UTF8String.fromString(s): Any).toArray)

  def charShingles(t: UTF8String, n: Int): GenericArrayData = {
    val s = t.toString
    if (s.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i <= s.length - n) { seen += s.substring(i, i + n); i += 1 }
    new GenericArrayData(seen.iterator.map(x => UTF8String.fromString(x): Any).toArray)
  }

  def shingleHashes(t: UTF8String, n: Int, p: Long): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sh = wordShingleSeq(t.toString, n)
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = md5Prefix(sh(i), md) % p; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Shingle hash at EVERY token position, in order and NOT deduplicated —
    * element i is the hash of the n-gram starting at token i (0-based; a
    * downstream `posexplode` recovers the position). The positioned form
    * span-level dedup needs: [[shingleHashes]]' distinct set loses WHERE a
    * repeat sits, which is the whole point of a span.
    */
  def shingleHashSeq(t: UTF8String, n: Int, p: Long): ArrayData = {
    val tk = t.toString.split(' ')
    if (tk.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](tk.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= tk.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tk(i + j))
        j += 1
      }
      out(i) = md5Prefix(sb.toString, md) % p
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def simhash32(t: UTF8String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](32)
    val seen = scala.collection.mutable.HashSet.empty[String]
    t.toString.split(' ').foreach { tok =>
      if (seen.add(tok)) {
        val h = md5Prefix(tok, md)
        var j = 0
        while (j < 32) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
    }
    (0 until 32).map(j => if (votes(j) > 0) 1L << j else 0L).sum
  }

  /** Polynomial rolling hash over the codepoint stream:
    * `h = (h*base + cp) % mod` left-to-right — matches
    * `aggregate(transform(sequence(1, length(t)), i -> ascii(substr(t,i,1))), ...)`
    * (ascii() yields the codepoint of a 1-char substring) without
    * materializing the per-character array or folding it interpreted.
    */
  def rollingHash(t: UTF8String, base: Long, mod: Long): Long = {
    val cps = codepointsOf(t)
    var h = 0L
    var i = 0
    while (i < cps.length) {
      h = (h * base + cps(i)) % mod
      i += 1
    }
    h
  }

  /** Codepoints of `t` decoded STRAIGHT from its UTF-8 bytes (r18, guide §4
    * per-task work): the old path paid a UTF-8 → UTF-16 String
    * materialization (`t.toString`) and then a second full `codePointAt`
    * walk with surrogate re-assembly — two passes and two allocations per
    * row before any kernel work started. Well-formed UTF-8 (every parquet
    * string in this suite) decodes to the IDENTICAL codepoint sequence in
    * one pass; any malformed sequence falls back to the String path, whose
    * U+FFFD replacement semantics are what the oracles were verified under.
    * Validation is exact (continuation bytes, overlong forms, surrogate
    * range, > U+10FFFF), so the fast path can never silently disagree with
    * the fallback.
    */
  private[graft] def codepointsOf(t: UTF8String): Array[Int] = {
    val b = t.getBytes
    val n = b.length
    val out = new Array[Int](n) // upper bound: one codepoint per byte
    var i = 0
    var k = 0
    while (i < n) {
      val b0 = b(i) & 0xff
      if (b0 < 0x80) { out(k) = b0; i += 1 }
      else if (b0 < 0xc2) return codepointsSlow(t) // bare continuation / overlong lead
      else if (b0 < 0xe0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) return codepointsSlow(t)
        out(k) = ((b0 & 0x1f) << 6) | (b(i + 1) & 0x3f)
        i += 2
      } else if (b0 < 0xf0) { // 3-byte
        if (i + 2 >= n || (b(i + 1) & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80)
          return codepointsSlow(t)
        val cp = ((b0 & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f)
        if (cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff)) return codepointsSlow(t)
        out(k) = cp
        i += 3
      } else if (b0 < 0xf5) { // 4-byte
        if (i + 3 >= n || (b(i + 1) & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 ||
            (b(i + 3) & 0xc0) != 0x80) return codepointsSlow(t)
        val cp = ((b0 & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
          ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f)
        if (cp < 0x10000 || cp > 0x10ffff) return codepointsSlow(t)
        out(k) = cp
        i += 4
      } else return codepointsSlow(t) // 0xf5-0xff: never valid UTF-8 leads
      k += 1
    }
    if (k == n) out else java.util.Arrays.copyOf(out, k)
  }

  /** The pre-r18 decode, kept as the malformed-input fallback: String
    * conversion (U+FFFD replacement) then a codePointAt walk.
    */
  private def codepointsSlow(t: UTF8String): Array[Int] = {
    val s = t.toString
    val out = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0
    var k = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      out(k) = cp
      k += 1
      ci += Character.charCount(cp)
    }
    out
  }

  /** Karp-Rabin base for the char-window family — a fixed literal (like the
    * minhash a/b constants) so the DuckDB oracle inlines the identical
    * polynomial: `h = (h*131 + codepoint) % p` folded left-to-right over
    * each window's codepoints.
    */
  val CharWindowBase: Long = 131L

  /** Polynomial hash of the L-codepoint window at every position, computed
    * with the Karp-Rabin ROLLING recurrence — O(n) total digest work
    * instead of the O(n·L) per-window md5 this replaces (the actual MOSS
    * construction: h_i = (h_{i-1} - cp_{i-1}·base^{L-1})·base + cp_{i+L-1}
    * mod p). Windows and positions are CODEPOINT-indexed, which is exactly
    * Spark's own `length`/`substring` indexing AND DuckDB's `substr` — so
    * detection positions, SQL oracles, and redaction splicing all agree
    * even on supplementary-plane text (the UTF-16 drift caveat of the md5
    * form is gone).
    *
    * Overflow-safe in signed 64-bit: h < p <= 2^31, base = 131 < 2^8, and
    * codepoints < 2^21, so every intermediate product stays below 2^52.
    */
  def charWindowHashSeq(t: UTF8String, l: Int, p: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windowPolyHashes(codepointsOf(t), l, p))

  /** Rolling Karp-Rabin window hashes over the codepoint stream; element i
    * (0-based) is the hash of codepoints [i, i+l). Empty when the text has
    * fewer than l codepoints.
    */
  private def windowPolyHashes(cps: Array[Int], l: Int, p: Long): Array[Long] = {
    val nCp = cps.length
    if (nCp < l) return Array.emptyLongArray
    val total = nCp - l + 1
    val out = new Array[Long](total)
    var h = 0L
    var i = 0
    while (i < l) { h = (h * CharWindowBase + cps(i)) % p; i += 1 }
    out(0) = h
    var powL = 1L // base^(l-1) mod p — the leading coefficient to retire
    i = 0
    while (i < l - 1) { powL = (powL * CharWindowBase) % p; i += 1 }
    i = 1
    while (i < total) {
      h = (h - (cps(i - 1) * powL) % p + p) % p
      h = (h * CharWindowBase + cps(i + l - 1)) % p
      out(i) = h
      i += 1
    }
    out
  }

  /** Winnowed fingerprint selection over the L-char window hashes — the
    * MOSS algorithm (Schleimer, Wilkerson, Aiken: "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003): slide a
    * w-position window over the per-position hashes and keep each
    * window's minimum. GUARANTEE: any shared substring of length >=
    * L + w - 1 yields at least one identical selected fingerprint in
    * both documents (a full hash window fits inside the run, and its
    * minimum is content-determined), while only ~2/(w+1) of positions
    * survive selection — the sampled form of the every-position pass
    * with a provable recall floor instead of striding's alignment hole.
    *
    * Returns packed longs `h * 2^32 + pos` (pos 1-based; h < 2^31 so the
    * pack is collision-free and orders by (h, pos) — the deterministic
    * tie-break BOTH engines reproduce: an in-window hash tie selects the
    * leftmost position). Consecutive windows sharing a minimum emit it
    * once. Selection runs IN-ROW via a monotone deque (O(n) total), so
    * only the ~2n/(w+1) survivors ever reach the explode.
    */
  def winnowedPackSeq(t: UTF8String, l: Int, w: Int, p: Long): ArrayData = {
    val hs = windowPolyHashes(codepointsOf(t), l, p)
    val total = hs.length
    if (total < w) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val packs = new Array[Long](total)
    var i = 0
    while (i < total) {
      // pos is 1-based; min-by pack == min-by (h, pos)
      packs(i) = hs(i) * 4294967296L + (i + 1)
      i += 1
    }
    // survivors are bounded by the full-window count; a flat primitive
    // buffer + copyOf stays unboxed end to end (one boxed Long per selected
    // position was the r17 shape)
    val out = new Array[Long](total - w + 1)
    var m = 0
    // monotone deque of indices with increasing pack values — a primitive
    // int ring (capacity w+1 bounds its size) instead of ArrayDeque[Int],
    // which boxed one Integer per position
    val cap = w + 1
    val ring = new Array[Int](cap)
    var head = 0 // ring slot of the first (smallest-pack) index
    var len = 0
    var last = -1L
    i = 0
    while (i < total) {
      while (len > 0 && packs(ring((head + len - 1) % cap)) >= packs(i)) len -= 1
      ring((head + len) % cap) = i
      len += 1
      if (ring(head) <= i - w) { head = (head + 1) % cap; len -= 1 }
      if (i >= w - 1) { // first FULL window ends at w-1
        val v = packs(ring(head))
        if (v != last) { out(m) = v; m += 1; last = v }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  /** (n_grams, n_distinct) over word n-grams of `split(text, " ")` in ONE
    * pass — no per-row gram-array materialization, no `array_distinct`
    * second scan. Windows are exactly those of
    * `transform(sequence(1, size(tk) - n + 1), i -> concat_ws(" ", slice(tk, i, n)))`
    * (Spark's split keeps trailing empty tokens, hence `split(" ", -1)`),
    * so the counts are bit-identical to the declarative form — spec- and
    * oracle-asserted. Distinctness is exact (string set), not hashed: a
    * hash collision would silently undercount.
    */
  def ngramRepetition(t: UTF8String, n: Int): InternalRow = {
    val tk = t.toString.split(" ", -1)
    val total = tk.length - n + 1
    if (total <= 0) return InternalRow(0L, 0L)
    val seen = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tk(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    InternalRow(total.toLong, seen.size.toLong)
  }

  /** (n_grams, max_count, top_gram) over word n-grams of `split(text, " ")`
    * in ONE pass — the Gopher "fraction in the most common n-gram" quality
    * rule's per-row half. Tokenization is identical to [[ngramRepetition]]
    * (`split(" ", -1)`, trailing empties kept). `top_gram` breaks count
    * ties lexicographically (smallest wins) so the result is deterministic
    * and the DuckDB oracle (`min(gram) WHERE count = max`) reproduces it.
    */
  def gramDominance(t: UTF8String, n: Int): InternalRow = {
    val tk = t.toString.split(" ", -1)
    val total = tk.length - n + 1
    if (total <= 0) return InternalRow(0L, 0L, null)
    val counts = new java.util.HashMap[String, Integer](total * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tk(i + j))
        j += 1
      }
      counts.merge(sb.toString, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      i += 1
    }
    var best: String = null
    var bc = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.intValue()
      // tie-break on UTF-8 BYTE order (UTF8String.compareTo), not Java's
      // UTF-16 code-unit order: they disagree for supplementary characters,
      // and the DuckDB oracle's min(gram) compares UTF-8 bytes
      if (c > bc || (c == bc &&
          UTF8String.fromString(e.getKey).compareTo(UTF8String.fromString(best)) < 0)) {
        best = e.getKey; bc = c
      }
    }
    InternalRow(total.toLong, bc.toLong, UTF8String.fromString(best))
  }

  /** BPE token count of `t` under an ordered merge table — the codegen
    * kernel of [[bpeTokenCountCall]]: per whitespace word (split on ' ',
    * empties kept — the t14 `split(text, " ")` convention, zero tokens
    * each), start from codepoint symbols and apply each merge as one
    * left-to-right greedy pass. The trainer ([[graft.operators.Bpe]]) never
    * emits `a == b` merges, so each pass has no overlapping matches and
    * greedy == simultaneous — the property the declarative DuckDB oracle
    * replays. O(word len · merges) per distinct word: the [[BpeTable]] memo
    * runs the merge loop once per word per task, not once per occurrence.
    */
  def bpeTokenCount(t: UTF8String, table: BpeTable): Long = {
    val s = t.toString
    var count = 0L
    var start = 0
    var more = true
    while (more) {
      val sp = s.indexOf(' ', start)
      val end = if (sp < 0) s.length else sp
      if (end > start) count += table.entryFor(s, start, end).unmarked.length
      if (sp < 0) more = false else start = sp + 1
    }
    count
  }

  /** Codepoint symbols of `s[from, until)` — BPE's starting alphabet. The
    * SINGLE split shared by the apply kernel and the trainer
    * ([[graft.operators.Bpe]]): both must segment identically or trained
    * merges would disagree with applied counts.
    */
  def bpeSymbols(s: String, from: Int, until: Int): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String](math.max(until - from, 0))
    var i = from
    while (i < until) {
      val n = Character.charCount(s.codePointAt(i))
      toks.add(s.substring(i, i + n))
      i += n
    }
    toks
  }

  /** One merge pass, left-to-right greedy (== simultaneous for a != b —
    * the invariant the trainer enforces and the DuckDB oracle's
    * declarative rewrite needs). Returns the INPUT list unchanged when the
    * pair never occurs (scan-before-copy: most (word, merge) pairs don't).
    * The single merge implementation shared by kernel and trainer.
    */
  def bpeMergePass(
      toks: java.util.ArrayList[String], a: String, b: String): java.util.ArrayList[String] = {
    var j = 0
    var first = -1
    while (first < 0 && j + 1 < toks.size) {
      if (toks.get(j) == a && toks.get(j + 1) == b) first = j
      j += 1
    }
    if (first < 0) return toks
    val out = new java.util.ArrayList[String](toks.size)
    j = 0
    while (j < toks.size) {
      if (j + 1 < toks.size && toks.get(j) == a && toks.get(j + 1) == b) {
        out.add(a + b); j += 2
      } else { out.add(toks.get(j)); j += 1 }
    }
    out
  }

  /** One word's BPE tokens — the single merge-application loop, run by
    * [[BpeTable]] for each distinct word (so count, token and marked-token
    * emission all share it) and built from the trainer's own
    * bpeSymbols/bpeMergePass. Package-private so the memo class can stay
    * top-level (its name must be source-referenceable from generated Java).
    */
  private[functions] def bpeWordTokensFor(
      s: String, from: Int, until: Int,
      merges: Array[Array[String]]): java.util.ArrayList[String] = {
    var toks = bpeSymbols(s, from, until)
    var m = 0
    while (m < merges.length && toks.size > 1) {
      toks = bpeMergePass(toks, merges(m)(0), merges(m)(1))
      m += 1
    }
    toks
  }

  /** The Sennrich end-of-word marker appended to each word-FINAL token by
    * [[bpeTokensMarked]]. The no-collision guarantee (no UNMARKED token ever
    * ends with this suffix) holds UNCONDITIONALLY (r16): the marked path
    * pre-escapes every literal '</w>' in the input to [[EowEscaped]]
    * before symbolization, so the processed text contains no marker
    * substring at all and a suffix test (endsWith / LIKE '%</w>')
    * identifies exactly the word-final tokens on ANY input. The escape is
    * length-preserving (same codepoint count), so token counts and
    * positions are unchanged; it is applied only in the marked emission
    * (the unmarked [[bpeTokens]]/[[bpeTokenCount]] surfaces pass text
    * through verbatim). Not injective on text already containing the
    * escaped form — absent from any alphabet that lacks '\\' — and merge
    * behavior inside an escaped run can differ from the unmarked pass if
    * the merge table pairs punctuation (trained tables here merge letters
    * only).
    */
  val EowMarker = "</w>"

  /** What a literal '</w>' in INPUT text becomes in [[bpeTokensMarked]]'s
    * output — same length as the marker, does not contain it.
    */
  val EowEscaped = "<\\w>"

  /** All BPE tokens of `t` in order — the vocab-emission surface and the
    * kernel of [[bpeTokensCall]]. Same word split and per-word
    * tokens as [[bpeTokenCount]], so `size(bpeTokens(x)) == bpeTokenCount(x)`
    * by construction.
    */
  def bpeTokens(t: UTF8String, table: BpeTable): GenericArrayData =
    bpeTokensCached(t, table, marked = false)

  /** [[bpeTokens]] with the GPT-2/Sennrich END-OF-WORD MARKER: the last
    * token of every word carries [[EowMarker]], so a (merges, vocab) pair
    * emitted from these tokens is loadable by external tokenizer stacks —
    * word boundaries are reconstructible from the token stream alone, which
    * the plain t14c vocab cannot offer. Merges are trained and applied
    * UNMARKED (strictly intra-word — graft.operators.Bpe's documented
    * deviation stands); the marker is attached at emission time only, so
    * token COUNTS match the unmarked surface —
    * `size(bpeTokensMarked(x)) == bpeTokenCount(x)` — whenever the
    * [[EowMarker]] pre-escape is a no-op (text without a literal '</w>')
    * OR the merge table never pairs the escaped run's punctuation (true
    * of every table TrainBpe emits from the syllable corpus: letters
    * only). On text containing '</w>' under a punctuation-pairing table
    * the escape can shift merge boundaries and the counts may differ —
    * see the [[EowMarker]] doc for the trade. Kernel of
    * [[bpeTokensMarkedCall]].
    */
  def bpeTokensMarked(t: UTF8String, table: BpeTable): GenericArrayData =
    bpeTokensCached(t, table, marked = true)

  /** The one token-emission loop behind [[bpeTokens]] and
    * [[bpeTokensMarked]]: pre-escape the marker when marked (see
    * [[EowMarker]]), split on ' ', and append each word's token array from
    * the table's per-distinct-word entry. Keying the cache on the
    * POST-escape word is sound because the escape is space-free (word
    * boundaries unchanged) and deterministic on the word's characters
    * alone.
    */
  private def bpeTokensCached(
      t: UTF8String, table: BpeTable, marked: Boolean): GenericArrayData = {
    val raw = t.toString
    val s = if (marked && raw.contains(EowMarker)) raw.replace(EowMarker, EowEscaped) else raw
    val out = new java.util.ArrayList[UTF8String]()
    var start = 0
    var more = true
    while (more) {
      val sp = s.indexOf(' ', start)
      val end = if (sp < 0) s.length else sp
      if (end > start) {
        val entry = table.entryFor(s, start, end)
        val toks = if (marked) entry.marked else entry.unmarked
        var i = 0
        while (i < toks.length) { out.add(toks(i)); i += 1 }
      }
      if (sp < 0) more = false else start = sp + 1
    }
    new GenericArrayData(out.toArray)
  }

  // ── Catalyst bindings ────────────────────────────────────────────────────
  // Each kernel above is called through Spark's StaticInvoke, which builds
  // both the interpreted and the whole-stage-codegen call from the one
  // method reference. A null text maps to null; the kernels never return
  // null themselves. The Column API (TextFunctions) and the SQL functions
  // (GraftFunctions) both build through these.

  private val StringArray = ArrayType(StringType, containsNull = false)
  private val LongArray = ArrayType(LongType, containsNull = false)

  private def call(method: String, dataType: DataType, args: Expression*): Expression =
    StaticInvoke(getClass, dataType, method, args, returnNullable = false)

  def wordShinglesCall(text: Expression, n: Int): Expression =
    call("wordShingles", StringArray, text, Literal(n))
  def charShinglesCall(text: Expression, n: Int): Expression =
    call("charShingles", StringArray, text, Literal(n))
  def shingleHashesCall(text: Expression, n: Int, p: Long): Expression =
    call("shingleHashes", LongArray, text, Literal(n), Literal(p))
  def shingleHashSeqCall(text: Expression, n: Int, p: Long): Expression =
    call("shingleHashSeq", LongArray, text, Literal(n), Literal(p))
  def charWindowHashSeqCall(text: Expression, l: Int, p: Long): Expression =
    call("charWindowHashSeq", LongArray, text, Literal(l), Literal(p))
  def winnowedPackSeqCall(text: Expression, l: Int, w: Int, p: Long): Expression =
    call("winnowedPackSeq", LongArray, text, Literal(l), Literal(w), Literal(p))
  def simhash32Call(text: Expression): Expression = call("simhash32", LongType, text)
  def rollingHashCall(text: Expression, base: Long, mod: Long): Expression =
    call("rollingHash", LongType, text, Literal(base), Literal(mod))

  def ngramRepetitionCall(text: Expression, n: Int): Expression =
    call("ngramRepetition", StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false))), text, Literal(n))
  def gramDominanceCall(text: Expression, n: Int): Expression =
    call("gramDominance", StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("max_count", LongType, nullable = false),
      StructField("top_gram", StringType, nullable = true))), text, Literal(n))

  /** The merge table rides as an object literal: codegen registers it as a
    * reference object, and [[BpeTable]]'s value equality keeps two calls
    * over the same merges one plan.
    */
  private def table(merges: Seq[(String, String)]): Literal =
    Literal(
      new BpeTable(merges.map(p => Array(p._1, p._2)).toArray), ObjectType(classOf[BpeTable]))

  def bpeTokenCountCall(text: Expression, merges: Seq[(String, String)]): Expression =
    call("bpeTokenCount", LongType, text, table(merges))
  def bpeTokensCall(text: Expression, merges: Seq[(String, String)]): Expression =
    call("bpeTokens", StringArray, text, table(merges))
  def bpeTokensMarkedCall(text: Expression, merges: Seq[(String, String)]): Expression =
    call("bpeTokensMarked", StringArray, text, table(merges))
}

/** A merge table plus a PER-INSTANCE word → tokens memo (r17 optimization
  * round): the merge-application loop is O(word len · merges) — 256 greedy
  * merge passes per word OCCURRENCE — while a corpus repeats its vocabulary
  * constantly (Zipf), so production BPE tokenizers (GPT-2's `encoder.py`
  * cache, HuggingFace tokenizers' `cache`) all memoize per-word results.
  * This is that memo, scoped deliberately small: the table is an object
  * literal of one kernel call, (de)serialized with the task binary, so the
  * `@transient` cache lives AT MOST for one task of one execution — nothing
  * persists across queries, rounds, or JVMs, and a timed pass always
  * recomputes every distinct word from scratch.
  *
  * Entries hold BOTH emission variants (unmarked, and with
  * [[TextKernels.EowMarker]] on the word-final token) as immutable
  * `UTF8String` arrays shared across rows — `GenericArrayData` copies
  * references, and downstream consumers treat UTF8String as a value.
  * Capacity-bounded: once [[BpeTable.MaxEntries]] distinct words are
  * resident, further words compute uncached (no eviction cost,
  * deterministic behavior, bounded task memory for adversarial
  * vocabularies). Equality is the merge list's, never the memo's, so plans
  * over equal tables compare equal (exchange reuse, cache lookup,
  * subexpression elimination).
  */
final class BpeTable(val merges: Array[Array[String]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case t: BpeTable => java.util.Arrays.deepEquals(
      merges.asInstanceOf[Array[AnyRef]], t.merges.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.deepHashCode(merges.asInstanceOf[Array[AnyRef]])

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, BpeTable.Entry](1024)

  /** Both token emissions of `s[from, until)`; cached per distinct word. */
  def entryFor(s: String, from: Int, until: Int): BpeTable.Entry = {
    val word = s.substring(from, until)
    val hit = cache.get(word)
    if (hit != null) return hit
    val toks = TextKernels.bpeWordTokensFor(s, from, until, merges)
    val n = toks.size
    val unmarked = new Array[UTF8String](n)
    var i = 0
    while (i < n) { unmarked(i) = UTF8String.fromString(toks.get(i)); i += 1 }
    val marked = new Array[UTF8String](n)
    System.arraycopy(unmarked, 0, marked, 0, n)
    if (n > 0)
      marked(n - 1) = UTF8String.fromString(toks.get(n - 1) + TextKernels.EowMarker)
    val e = new BpeTable.Entry(unmarked, marked)
    if (cache.size < BpeTable.MaxEntries) cache.putIfAbsent(word, e)
    e
  }
}

object BpeTable {
  /** Tokens of one distinct word, in both emission variants. */
  final class Entry(val unmarked: Array[UTF8String], val marked: Array[UTF8String])

  /** Cache capacity: generous vs any trained vocabulary (the committed
    * table's corpus holds ~4k distinct words; real tokenizer caches default
    * to the same order), yet small enough that a pathological
    * all-unique-words corpus costs a task a few MB before the cache stops
    * admitting and rows simply compute uncached.
    */
  val MaxEntries: Int = 1 << 15
}
