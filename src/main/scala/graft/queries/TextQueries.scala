package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators._

/** Training-data text-pipeline queries: exact/near dedup, simhash, token
  * stats, quality + language heuristics. Oracle SQL for the hash-based ops is
  * generated from the same constants so both engines run the identical
  * algorithm.
  */
object TextQueries {
  private val P = TextFunctions.MinhashP
  private val K = 16
  private val params = TextFunctions.minhashParams(K)
  private val stopwords = Seq("the", "a")

  /** DuckDB shingle CTE: distinct 3-gram word shingles per doc. */
  private val shCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(tk) < 3 THEN []
      |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
      |                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
      |       FROM toks)""".stripMargin

  private def duckHash(x: String): String =
    s"(CAST(concat('0x', substr(md5($x), 1, 8)) AS BIGINT) % $P)"

  private val duckSigExprs: String = params.zipWithIndex
    .map { case ((a, b), j) =>
      s"list_min(list_transform(s, x -> ($a * ${duckHash("x")} + $b) % $P)) AS sig_$j"
    }
    .mkString(",\n  ")

  /** Exactly 12 words = one exact span at t8's span width. */
  private val Boilerplate =
    "subscribe now to get our best offers delivered straight to your inbox"

  private val R = 4 // rows per band (matches TextDedup default)
  private val duckBandsUnion: String = (0 until K / R)
    .map { k =>
      val bh = (0 until R)
        .map(r => s"sig_${k * R + r}")
        .foldLeft("0")((acc, s) => s"(($acc) * 1000003 + $s) % ${TextDedup.BandM}")
      s"SELECT doc_id, $k AS band, $bh AS bh FROM sigs"
    }
    .mkString(" UNION ALL ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D-exact — content-hash dedup: docs unioned with re-keyed copies of
    // themselves collapse back to one row per distinct content.
    "t1_dedup_exact" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val copies = d.withColumn("doc_id", col("doc_id") + 1000000L)
      TextDedup.exactByContent(d.unionByName(copies), col("doc_id"), col("text"))
    },
    // D-minhash — per-doc 16-value minhash signature.
    "t2_minhash_signatures" -> { (s, dir) =>
      TextDedup.minhashSignatures(Tables.documents(s, dir), col("doc_id"), col("text"), K)
    },
    // D-LSH — banded candidate pairs + exact jaccard verify >= 0.3. The
    // oracle runs the SAME LSH pipeline, so both sides miss the same
    // below-band pairs (that's the semantics of the operator, not a bug).
    "t3_lsh_neardup_pairs" -> { (s, dir) =>
      TextDedup.nearDuplicates(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        k = K, rowsPerBand = R, threshold = 0.3)
    },
    // D-simhash — 32-bit simhash fingerprint per doc.
    "t4_simhash" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.simhash32(col("text")).as("simhash"))
    },
    // D-char-ngram — character-5-gram Jaccard between same-source doc pairs
    // (the char-level dedup granularity; bounded blocking by source).
    "t6_char_ngram_jaccard" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"), TextFunctions.charShingles(col("text")).as("cs"))
      val a = d.select(col("source"), col("doc_id").as("doc_a"), col("cs").as("cs_a"))
      val b = d.select(col("source"), col("doc_id").as("doc_b"), col("cs").as("cs_b"))
      a.join(b, Seq("source"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("n_common", size(array_intersect(col("cs_a"), col("cs_b"))).cast("long"))
        .withColumn(
          "jaccard",
          col("n_common").cast("double") /
            (size(col("cs_a")) + size(col("cs_b")) - col("n_common")))
        .filter(col("jaccard") >= 0.2)
        .select("source", "doc_a", "doc_b", "n_common", "jaccard")
    },
    // T-fingerprint — polynomial rolling hash (Rabin-Karp style) over the
    // character stream as a 64-bit-safe document fingerprint, plus the
    // BPE-ish regex tokenizer (letter runs | digit runs | single punct) and
    // punctuation ratio. Fold runs inside codegen; zero shuffle.
    "t7_fingerprint_tokens" -> { (s, dir) =>
      val bpe = regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))
      val punct = regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.rollingHash(col("text"), base = 131L, mod = 1000000007L)
          .as("fingerprint"),
        size(bpe).cast("long").as("n_tokens_bpe"),
        size(array_distinct(bpe)).cast("long").as("n_unique_bpe"),
        (size(punct).cast("double") / length(col("text"))).as("punct_ratio"))
    },
    // T-boilerplate — C4-style corpus-frequency span removal: every 3rd doc
    // gets a fixed 12-word boilerplate prefix (aligned to the span width so
    // it forms one exact span, like a repeated line); the operator must drop
    // exactly those spans corpus-wide and keep everything else byte-intact.
    "t8_boilerplate_spans" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        when(
          pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(Boilerplate + " "), col("text"))).otherwise(col("text")).as("text"))
      TextDedup.boilerplateSpanRemoval(
        d, col("doc_id"), col("text"), spanWords = 12, maxOccurrences = 3)
    },
    // D-clusters — LSH near-dup pairs resolved to duplicate clusters via 3
    // rounds of min-label propagation (BSP connected components); each doc
    // in any near-dup pair maps to its cluster representative (min id
    // within 3 hops).
    "t10_neardup_clusters" -> { (s, dir) =>
      val pairs = TextDedup.nearDuplicates(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        k = K, rowsPerBand = R, threshold = 0.3)
      TextDedup.neardupClusters(pairs.select("doc_a", "doc_b"), iterations = 3)
    },
    // T-pipeline — the composed training-data gate: exact-dup flag (keep
    // the smallest id per content hash; re-keyed copies of docs < 50 make
    // real duplicates), quality threshold, and language gate fold into one
    // keep decision — the end-to-end C4-style filter a corpus pass applies.
    "t9_filter_pipeline" -> { (s, dir) =>
      val d0 = Tables.documents(s, dir)
      val d = d0.unionByName(
        d0.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000L))
      val first = d
        .groupBy(md5(col("text")).as("cmd5"))
        .agg(min(col("doc_id")).as("first_id"))
      val tk = TextFunctions.tokens(col("text"))
      val nTok = size(tk)
      val nUniq = size(array_distinct(tk))
      val stop = TextFunctions.stopwordCount(tk, stopwords)
      val quality = least(nTok.cast("double") / 200.0, lit(1.0)) * 0.5 +
        (nUniq.cast("double") / nTok) * 0.3 +
        (lit(1.0) - stop.cast("double") / nTok) * 0.2
      d.select(
          col("doc_id"),
          md5(col("text")).as("cmd5"),
          quality.as("q"),
          (stop.cast("double") / nTok >= 0.03).as("lang_ok"))
        .join(first, Seq("cmd5"))
        .select(
          col("doc_id"),
          (col("doc_id") =!= col("first_id")).as("is_exact_dup"),
          round(col("q"), 6).as("quality_score"),
          (col("q") >= 0.5).as("quality_ok"),
          col("lang_ok"),
          (col("doc_id") === col("first_id") && col("q") >= 0.5 && col("lang_ok")).as("keep"))
    },
    // T-quality — token stats, type-token ratio, stopword ratio, composite
    // quality score, and the n-gram language-ID heuristic.
    "t5_text_quality" -> { (s, dir) =>
      val tk = TextFunctions.tokens(col("text"))
      val nTok = size(tk)
      val nUniq = size(array_distinct(tk))
      val stop = TextFunctions.stopwordCount(tk, stopwords)
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        nUniq.cast("long").as("n_unique"),
        (nUniq.cast("double") / nTok).as("ttr"),
        ((length(col("text")) - (nTok - 1)).cast("double") / nTok).as("avg_token_len"),
        (stop.cast("double") / nTok).as("stopword_ratio"),
        (least(nTok.cast("double") / 200.0, lit(1.0)) * 0.5 +
          (nUniq.cast("double") / nTok) * 0.3 +
          (lit(1.0) - stop.cast("double") / nTok) * 0.2).as("quality_score"),
        when(stop.cast("double") / nTok >= 0.03, "en").otherwise("unknown").as("lang_guess"))
    },
    // T-bm25 — Okapi BM25 against a fixed 4-term query: the retrieval-side
    // scorer for quality-weighted sampling / corpus slicing.
    "t16_bm25" -> { (s, dir) =>
      TextRank.bm25(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        queryTerms = Bm25Terms)
    },
    // T17 — word-3-gram repetition ratio (the Gopher-style "repetition"
    // quality signal t5's length/TTR/stopword trio misses): share of
    // duplicated 3-grams per document. One-pass kernel
    // (TextKernels.ngramRepetition — no gram-array materialization, no
    // array_distinct second scan; 1.54 s → sub-0.4 s at sf0.1), zero
    // shuffle; the kernel's window set is bit-identical to the declarative
    // sequence+slice form (spec-asserted) and to the DuckDB oracle.
    "t17_repetition" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.ngramRepetition(col("text"), 3).as("r"))
        .select(
          col("doc_id"),
          col("r.n_grams").as("n_grams"),
          col("r.n_distinct").as("n_distinct"),
          when(
            col("r.n_grams") > 0,
            round(
              lit(1.0) - col("r.n_distinct").cast("double") / col("r.n_grams"),
              6))
            .otherwise(0.0).as("repetition_ratio"))
        .withColumn("is_repetitive", col("repetition_ratio") > 0.2)
    },
    // T18 — Gopher most-common-n-gram dominance: the share of the document
    // claimed by its single most frequent word (and 2-gram) — the classic
    // "fraction in the most common n-gram" corpus-quality rule. One-pass
    // kernel per n (TextKernels.gramDominance), zero shuffle;
    // the top gram breaks count ties lexicographically so the DuckDB oracle
    // (min(gram) at the max count) reproduces it exactly.
    "t18_gram_dominance" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          TextFunctions.gramDominance(col("text"), 1).as("g1"),
          TextFunctions.gramDominance(col("text"), 2).as("g2"))
        .select(
          col("doc_id"),
          col("g1.n_grams").as("n_tokens"),
          col("g1.max_count").as("top1_count"),
          col("g1.top_gram").as("top1_token"),
          when(col("g1.n_grams") > 0,
            round(col("g1.max_count").cast("double") / col("g1.n_grams"), 6))
            .otherwise(0.0).as("top1_share"),
          when(col("g2.n_grams") > 0,
            round(col("g2.max_count").cast("double") / col("g2.n_grams"), 6))
            .otherwise(0.0).as("top2_share"))
        .withColumn(
          "is_dominated", col("top1_share") > 0.2 || col("top2_share") > 0.18)
    },
    // T19 — corpus vocabulary: token tf/df, top-200 by (tf desc, token) —
    // the tokenizer-vocab / stopword-discovery pass. Explode → one
    // map-side-combined aggregate; the cut is a TakeOrdered, not a global
    // sort.
    "t19_vocab_topk" -> { (s, dir) =>
      // enriched corpus (r12): the raw fixture's 31-word vocabulary made
      // this a toy; the doc_id-seeded expansion gives it thousands of types
      Vocab.vocabTopK(Tables.richDocuments(s, dir), col("doc_id"), col("text"), 200)
    },
    // T20 — adjacent-bigram collocations with PMI (phrase mining for
    // phrase-aware tokenization), top-150 by (count desc, w1, w2). ln +
    // round(6) parity is the same cross-engine contract t16's BM25 pins.
    "t20_bigram_pmi" -> { (s, dir) =>
      Vocab.bigramPmi(Tables.richDocuments(s, dir), col("text"), 150)
    },
    // T22 — fuzzy dedup, character level: the SAME LSH blocking as t3, but
    // candidates verified by Levenshtein similarity instead of shingle
    // Jaccard (catches near-identical retokenized edits). The quadratic
    // kernel only ever touches blocked candidate pairs.
    "t22_fuzzy_pairs_edit" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextDedup.verifyEditDistance(
        TextDedup.lshCandidates(
          TextDedup.minhashSignatures(docs, col("doc_id"), col("text"), K), K, R),
        docs.select(col("doc_id"), col("text")),
        minSim = 0.9)
    },
    // T21 — bigram-LM cross-entropy per doc (the KenLM-style quality
    // filter): corpus-estimated p(w2|w1), per-doc avg −ln(p) via 9-dp
    // rounding + DECIMAL exact sum (order-free), ppl = exp. Docs without
    // bigrams stay with n_bigrams = 0 and null scores.
    "t21_bigram_ppl" -> { (s, dir) =>
      Vocab.bigramPerplexity(Tables.richDocuments(s, dir), col("doc_id"), col("text"))
    }
  )

  /** Fixed BM25 query-term order — the per-doc total folds term scores in
    * THIS order on both engines (double addition is not associative).
    */
  private val Bm25Terms = Seq("spark", "merge", "window", "hash")

  val oracle: Map[String, String] = Map(
    "t1_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT md5(text) AS content_md5, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM u GROUP BY 1""".stripMargin,
    "t2_minhash_signatures" ->
      s"""WITH $shCte
         |SELECT doc_id,
         |  $duckSigExprs
         |FROM sh""".stripMargin,
    "t3_lsh_neardup_pairs" ->
      s"""WITH $shCte,
         |sigs AS (
         |  SELECT doc_id,
         |    $duckSigExprs
         |  FROM sh),
         |bands AS ($duckBandsUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |   AND x.doc_id < y.doc_id),
         |ex AS (SELECT doc_id, unnest(s) AS tok FROM sh),
         |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN ex x ON x.doc_id = c.doc_a
         |  JOIN ex y ON y.doc_id = c.doc_b AND y.tok = x.tok
         |  GROUP BY 1, 2)
         |SELECT m.doc_a, m.doc_b, m.n_common,
         |  m.n_common * 1.0 / (sa.n + sb.n - m.n_common) AS jaccard
         |FROM common m
         |JOIN sz sa ON sa.doc_id = m.doc_a
         |JOIN sz sb ON sb.doc_id = m.doc_b
         |WHERE m.n_common * 1.0 / (sa.n + sb.n - m.n_common) >= 0.3""".stripMargin,
    "t4_simhash" -> {
      val h = "(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))"
      val bits = (0 until 32)
        .map(j =>
          s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << $j) ELSE 0 END")
        .mkString(" + ")
      s"""WITH hs0 AS (
         |  SELECT doc_id,
         |    list_transform(list_distinct(string_split(text, ' ')), t -> $h) AS hs
         |  FROM documents)
         |SELECT doc_id, $bits AS simhash FROM hs0""".stripMargin
    },
    "t6_char_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, length(text) - 4),
        |                  i -> substr(text, i, 5))) AS cs
        |  FROM documents WHERE doc_id < 100 AND length(text) >= 5),
        |ex AS (SELECT doc_id, source, unnest(cs) AS g FROM d),
        |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
        |pairs AS (
        |  SELECT x.source, x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
        |  FROM ex x JOIN ex y ON x.source = y.source AND x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT p.source, p.doc_a, p.doc_b, p.n_common,
        |  p.n_common * 1.0 / (sa.n + sb.n - p.n_common) AS jaccard
        |FROM pairs p
        |JOIN sz sa ON sa.doc_id = p.doc_a
        |JOIN sz sb ON sb.doc_id = p.doc_b
        |WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2""".stripMargin,
    "t7_fingerprint_tokens" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(generate_series(1, length(text)),
        |                             i -> CAST(ord(substr(text, i, 1)) AS BIGINT)),
        |              (h, c) -> (h * 131 + c) % 1000000007) AS fingerprint,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
        |  len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS n_unique_bpe,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text) AS punct_ratio
        |FROM documents""".stripMargin,
    "t8_boilerplate_spans" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$Boilerplate ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
         |s0 AS (
         |  SELECT doc_id, w,
         |    unnest(generate_series(1, CAST(ceil(len(w) / 12.0) AS BIGINT))) AS i
         |  FROM toks),
         |spans AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    array_to_string(w[((i-1)*12+1):(i*12)], ' ') AS span
         |  FROM s0),
         |freq AS (SELECT span, count(*) AS n_occ FROM spans GROUP BY 1),
         |kept AS (
         |  SELECT s.doc_id, s.pos, s.span FROM spans s
         |  JOIN freq f USING (span) WHERE f.n_occ < 3),
         |k AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(span, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY 1),
         |n AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1)
         |SELECT n.doc_id, n.n_spans,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM n LEFT JOIN k USING (doc_id)""".stripMargin,
    "t10_neardup_clusters" -> {
      val rounds = (1 to 3).map { j =>
        s"""l$j AS (
           |  SELECT doc_id, min(cluster_id) AS cluster_id FROM (
           |    SELECT doc_id, cluster_id FROM l${j - 1}
           |    UNION ALL
           |    SELECT e.src AS doc_id, l.cluster_id
           |    FROM edges e JOIN l${j - 1} l ON l.doc_id = e.dst)
           |  GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shCte,
         |sigs AS (
         |  SELECT doc_id,
         |    $duckSigExprs
         |  FROM sh),
         |bands AS ($duckBandsUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |   AND x.doc_id < y.doc_id),
         |ex AS (SELECT doc_id, unnest(s) AS tok FROM sh),
         |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN ex x ON x.doc_id = c.doc_a
         |  JOIN ex y ON y.doc_id = c.doc_b AND y.tok = x.tok
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT m.doc_a, m.doc_b FROM common m
         |  JOIN sz sa ON sa.doc_id = m.doc_a
         |  JOIN sz sb ON sb.doc_id = m.doc_b
         |  WHERE m.n_common * 1.0 / (sa.n + sb.n - m.n_common) >= 0.3),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS doc_id, src AS cluster_id FROM edges),
         |$rounds
         |SELECT doc_id, cluster_id FROM l3""".stripMargin
    },
    "t9_filter_pipeline" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
        |first AS (SELECT md5(text) AS cmd5, min(doc_id) AS first_id FROM u GROUP BY 1),
        |m AS (
        |  SELECT doc_id, md5(text) AS cmd5,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_distinct(string_split(text, ' '))) AS n_unique,
        |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM u),
        |q AS (
        |  SELECT doc_id, cmd5,
        |    least(n_tokens / 200.0, 1.0) * 0.5 + (n_unique * 1.0 / n_tokens) * 0.3
        |      + (1.0 - n_stop * 1.0 / n_tokens) * 0.2 AS qv,
        |    n_stop * 1.0 / n_tokens >= 0.03 AS lang_ok
        |  FROM m)
        |SELECT q.doc_id,
        |  q.doc_id <> f.first_id AS is_exact_dup,
        |  round(q.qv, 6) AS quality_score,
        |  q.qv >= 0.5 AS quality_ok,
        |  q.lang_ok,
        |  (q.doc_id = f.first_id AND q.qv >= 0.5 AND q.lang_ok) AS keep
        |FROM q JOIN first f USING (cmd5)""".stripMargin,
    "t5_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(tk) AS n_tokens,
        |    len(list_distinct(tk)) AS n_unique,
        |    len(list_filter(tk, x -> x = 'the' OR x = 'a')) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_chars, n_tokens, n_unique,
        |  n_unique * 1.0 / n_tokens AS ttr,
        |  (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS avg_token_len,
        |  n_stop * 1.0 / n_tokens AS stopword_ratio,
        |  least(n_tokens / 200.0, 1.0) * 0.5 + (n_unique * 1.0 / n_tokens) * 0.3
        |    + (1.0 - n_stop * 1.0 / n_tokens) * 0.2 AS quality_score,
        |  CASE WHEN n_stop * 1.0 / n_tokens >= 0.03 THEN 'en' ELSE 'unknown' END AS lang_guess
        |FROM m""".stripMargin,
    "t16_bm25" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val perTerm = Bm25Terms
        .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0)")
        .mkString("\n        |    + ")
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |dls AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(sum(CAST(dl AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avgdl,
        |    count(*) AS n_docs
        |  FROM dls),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ($terms) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
        |  FROM tf
        |  JOIN dfreq USING (term)
        |  JOIN dls USING (doc_id)
        |  CROSS JOIN stats)
        |SELECT doc_id,
        |  round($perTerm, 6) + 0.0 AS bm25,
        |  count(*) AS n_terms
        |FROM sc GROUP BY doc_id""".stripMargin
    },
    // 1-based inclusive slices: tk[i:i+2] = 3 tokens, i in 1..n-2 — the
    // same windows as Spark's slice(tk, i, 3) over sequence(1, n-2).
    // LEFT JOINs + CASE-to-0.0: a NULL-text doc has no m1/m2 rows (unnest of
    // a NULL split emits nothing) but the Spark kernel keeps the row with a
    // null stats struct — shares fall back to 0.0 on BOTH engines, counts
    // and top gram stay NULL. An inner join here would silently drop such
    // docs from the oracle only.
    "t18_gram_dominance" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g1 AS (SELECT doc_id, unnest(tk) AS gram FROM t),
        |g2src AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 2
        |      THEN [array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))]
        |      ELSE [] END AS grams
        |  FROM t),
        |g2 AS (SELECT doc_id, unnest(grams) AS gram FROM g2src),
        |c1 AS (SELECT doc_id, gram, count(*) AS c FROM g1 GROUP BY 1, 2),
        |m1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |         CAST(max(c) AS BIGINT) AS maxc FROM c1 GROUP BY 1),
        |top1 AS (SELECT c1.doc_id, min(c1.gram) AS top_gram
        |         FROM c1 JOIN m1 USING (doc_id) WHERE c1.c = m1.maxc GROUP BY 1),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
        |m2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |         CAST(max(c) AS BIGINT) AS maxc FROM c2 GROUP BY 1)
        |SELECT t.doc_id,
        |  m1.total AS n_tokens,
        |  m1.maxc AS top1_count,
        |  top1.top_gram AS top1_token,
        |  CASE WHEN m1.total > 0
        |    THEN round(m1.maxc * 1.0 / m1.total, 6) + 0.0 ELSE 0.0 END AS top1_share,
        |  CASE WHEN m2.total IS NOT NULL AND m2.total > 0
        |    THEN round(m2.maxc * 1.0 / m2.total, 6) + 0.0 ELSE 0.0 END AS top2_share,
        |  (CASE WHEN m1.total > 0
        |     THEN round(m1.maxc * 1.0 / m1.total, 6) ELSE 0.0 END > 0.2 OR
        |   CASE WHEN m2.total IS NOT NULL AND m2.total > 0
        |     THEN round(m2.maxc * 1.0 / m2.total, 6) ELSE 0.0 END > 0.18) AS is_dominated
        |FROM t
        |LEFT JOIN m1 USING (doc_id)
        |LEFT JOIN top1 USING (doc_id)
        |LEFT JOIN m2 USING (doc_id)""".stripMargin,
    "t17_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3
        |      THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
        |      ELSE [] END AS grams
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |    THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
        |    ELSE 0.0 END AS repetition_ratio,
        |  CASE WHEN len(grams) > 0
        |    THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6) > 0.2
        |    ELSE false END AS is_repetitive
        |FROM g""".stripMargin,
    "t19_vocab_topk" ->
      s"""WITH ${Tables.richDocsOracleCte},
         |tk AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs_rich)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM tk GROUP BY token
         |ORDER BY tf DESC, token LIMIT 200""".stripMargin,
    "t20_bigram_pmi" ->
      s"""WITH ${Tables.richDocsOracleCte},
         |toks AS (
         |  SELECT string_split(text, ' ') AS tk FROM docs_rich WHERE text IS NOT NULL),
        |uni AS (SELECT unnest(tk) AS token FROM toks),
        |cu AS (SELECT token, count(*) AS cx FROM uni GROUP BY token),
        |tu AS (SELECT sum(cx) AS tu FROM cu),
        |bg AS (
        |  SELECT
        |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i + 1])) AS w2
        |  FROM toks),
        |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY w1, w2),
        |tb AS (SELECT sum(c_bigram) AS tb FROM cb)
        |SELECT cb.w1, cb.w2, cb.c_bigram,
        |  round(ln((cb.c_bigram / tb.tb) /
        |    ((a.cx / tu.tu) * (b.cx / tu.tu))), 6) + 0.0 AS pmi
        |FROM cb
        |JOIN cu a ON a.token = cb.w1
        |JOIN cu b ON b.token = cb.w2
        |CROSS JOIN tu CROSS JOIN tb
        |ORDER BY cb.c_bigram DESC, cb.w1, cb.w2 LIMIT 150""".stripMargin,
    "t22_fuzzy_pairs_edit" ->
      s"""WITH $shCte,
         |sigs AS (
         |  SELECT doc_id,
         |    $duckSigExprs
         |  FROM sh),
         |bands AS ($duckBandsUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |   AND x.doc_id < y.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  round(1.0 - levenshtein(a.text, b.text) * 1.0
         |    / greatest(len(a.text), len(b.text)), 6) + 0.0 AS edit_sim
         |FROM cand c
         |JOIN documents a ON a.doc_id = c.doc_a
         |JOIN documents b ON b.doc_id = c.doc_b
         |WHERE round(1.0 - levenshtein(a.text, b.text) * 1.0
         |    / greatest(len(a.text), len(b.text)), 6) >= 0.9""".stripMargin,
    "t21_bigram_ppl" ->
      s"""WITH ${Tables.richDocsOracleCte},
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM docs_rich WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i + 1])) AS w2
        |  FROM toks),
        |cb AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY w1, w2),
        |cw AS (SELECT w1, sum(cxy) AS cx FROM cb GROUP BY w1),
        |nl AS (
        |  SELECT bg.doc_id, round(-ln(cb.cxy / cw.cx), 9) AS nll
        |  FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1)),
        |d AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(nll AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS raw_nll
        |  FROM nl GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(d.n_bigrams, 0) AS n_bigrams,
        |  round(d.raw_nll, 6) + 0.0 AS avg_nll,
        |  round(exp(d.raw_nll), 6) + 0.0 AS ppl
        |FROM toks t LEFT JOIN d USING (doc_id)""".stripMargin
  )
}
