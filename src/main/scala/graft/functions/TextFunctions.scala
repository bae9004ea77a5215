package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the large-scale training-data pipeline operators
  * (scale EXTENSION per BASELINE.json's north star — no reference
  * counterpart)
  * (dedup, language/quality heuristics). Everything here is a per-row
  * expression — no shuffle, fully codegen-friendly, and deterministic across
  * engines (hashes derive from md5 hex, not engine-specific hash functions,
  * so DuckDB oracles can reproduce them bit-for-bit).
  */
object TextFunctions {

  /** 32-bit integer hash from the md5 hex prefix — engine-portable. */
  def md5PrefixHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private def kernel(text: Column)(call: Expression => Expression): Column =
    ColumnBridge.column(call(ColumnBridge.expression(text)))

  /** Distinct word n-gram shingles ("w1 w2 w3"). A row-level JVM kernel
    * bound by `StaticInvoke` ([[TextKernels.wordShinglesCall]]): the
    * equivalent `transform(sequence(...), concat_ws(element_at...))` builtin
    * runs interpreted per ELEMENT in Spark (profiled ~3.4 s for 1.5M
    * shingles vs ~0.3 s for the kernel), and the static call stays inside
    * whole-stage codegen with no UDF encoder seam. Null text maps to an
    * empty set (the pre-kernel UDF contract).
    */
  def shingles(text: Column, n: Int = 3): Column =
    coalesce(kernel(text)(TextKernels.wordShinglesCall(_, n)), typedLit(Seq.empty[String]))

  /** Distinct character n-grams (the char-level dedup granularity — catches
    * near-dups that word tokenization misses, e.g. punctuation/spacing
    * variants). Same kernel-call shape as [[shingles]].
    */
  def charShingles(text: Column, n: Int = 5): Column =
    coalesce(kernel(text)(TextKernels.charShinglesCall(_, n)), typedLit(Seq.empty[String]))

  /** Shingle hashes (md5-prefix mod p) directly — skips materializing the
    * shingle strings as a column when only the hashes are needed.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    coalesce(
      kernel(text)(TextKernels.shingleHashesCall(_, n, MinhashP)), typedLit(Seq.empty[Long]))

  /** Shingle hashes at EVERY token position in order, NOT deduplicated —
    * `posexplode` downstream recovers (position, hash); the positioned
    * input of span-level dedup ([[graft.operators.Corpus.repeatedSpans]]).
    */
  def shingleHashSeq(text: Column, n: Int = 3): Column =
    coalesce(
      kernel(text)(TextKernels.shingleHashSeqCall(_, n, MinhashP)), typedLit(Seq.empty[Long]))

  /** L-char window hash at every char position in order — the character-
    * granularity positioned input of span dedup
    * ([[graft.operators.Corpus.repeatedCharSpans]]).
    */
  def charWindowHashSeq(text: Column, l: Int): Column =
    coalesce(
      kernel(text)(TextKernels.charWindowHashSeqCall(_, l, MinhashP)), typedLit(Seq.empty[Long]))

  /** Winnowed fingerprints of the L-char window hashes, packed
    * `h * 2^32 + pos` — the MOSS-sampled positioned input of span dedup
    * ([[graft.operators.Corpus.winnowedCharSpans]]).
    */
  def winnowedPackSeq(text: Column, l: Int, w: Int): Column =
    coalesce(
      kernel(text)(TextKernels.winnowedPackSeqCall(_, l, w, MinhashP)),
      typedLit(Seq.empty[Long]))

  /** One-pass (n_grams, n_distinct) struct over word n-grams — the
    * repetition-ratio kernel ([[TextKernels.ngramRepetition]]).
    */
  def ngramRepetition(text: Column, n: Int = 3): Column =
    kernel(text)(TextKernels.ngramRepetitionCall(_, n))

  /** One-pass (n_grams, max_count, top_gram) struct over word n-grams — the
    * Gopher most-common-n-gram dominance kernel
    * ([[TextKernels.gramDominance]]).
    */
  def gramDominance(text: Column, n: Int = 1): Column =
    kernel(text)(TextKernels.gramDominanceCall(_, n))

  /** MinHash parameters: k permutations of h -> (a*h + b) mod p over the
    * Mersenne prime 2^31-1. Constants are fixed literals so the DuckDB oracle
    * can inline the identical family.
    */
  val MinhashP: Long = 2147483647L
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(j => (40503L * (j + 7) + 1L, 9176L * (j + 3) + 7L))

  /** One minhash signature value: min over shingles of (a*(h mod p)+b) mod p.
    * Per-row array fold — the signature of a 100 TB corpus needs zero
    * shuffles.
    */
  def minhashSig(shingleArr: Column, a: Long, b: Long): Column =
    array_min(transform(
      shingleArr,
      s => (lit(a) * (md5PrefixHash(s) % MinhashP) + lit(b)) % MinhashP))

  /** 32-bit SimHash over distinct tokens: bit j is set when the sum of
    * ±1 votes from each token's hash bit j is positive. A kernel call for
    * the same reason as [[shingles]] (32 interpreted `aggregate` passes
    * profiled ~4.5 s at sf0.1 vs ~0.3 s for the kernel).
    */
  def simhash32(text: Column): Column =
    coalesce(kernel(text)(TextKernels.simhash32Call), lit(0L))

  /** Polynomial rolling-hash document fingerprint over the codepoint stream
    * ([[TextKernels.rollingHash]]).
    */
  def rollingHash(text: Column, base: Long = 131L, mod: Long = 1000000007L): Column =
    kernel(text)(TextKernels.rollingHashCall(_, base, mod))

  /** BPE token count under an ordered merge table
    * ([[TextKernels.bpeTokenCount]]) — the tokenizer-real `n_tokens` input
    * to sequence packing. Null text maps to null, like the SQL side.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    kernel(text)(TextKernels.bpeTokenCountCall(_, merges))

  /** The BPE tokens themselves ([[TextKernels.bpeTokens]]) — vocab
    * emission / inspection surface; `size(bpeTokens(x, m)) ==
    * bpeTokenCount(x, m)` by shared kernel.
    */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    kernel(text)(TextKernels.bpeTokensCall(_, merges))

  /** [[bpeTokens]] with the Sennrich/GPT-2 end-of-word marker on each
    * word-final token ([[TextKernels.bpeTokensMarked]]) — the emission
    * external tokenizer stacks can load, since word boundaries are
    * reconstructible from the token stream alone.
    */
  def bpeTokensMarked(text: Column, merges: Seq[(String, String)]): Column =
    kernel(text)(TextKernels.bpeTokensMarkedCall(_, merges))

  /** Stopword-membership count used by the quality/language heuristics. */
  def stopwordCount(tk: Column, stopwords: Seq[String]): Column =
    if (stopwords.isEmpty) lit(0) // reduce on an empty list would throw
    else size(filter(tk, t => stopwords.map(w => t === w).reduce(_ || _)))
}
