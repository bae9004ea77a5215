package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions, TextKernels}
import graft.operators.{Bpe, Corpus, Profile, TokenizerArtifact}

/** Corpus-assembly queries: deterministic splits, weighted sampling,
  * contamination checks, sequence packing, PII redaction. Hash constants are
  * shared with the DuckDB oracle (md5-prefix, like the minhash family).
  */
object CorpusQueries {

  /** The ONE definition of the BPE id space — [[Vocab.frequencyRankVocab]]
    * (moved there r17 so [[graft.TrainBpe]]'s artifact emission shares it) —
    * aliased for the plain (t14c), marked (t14d), artifact-loaded (t14h),
    * and encode (t14e) queries so the "t14e resolves ids in t14d's id
    * space" claim is true by construction, not by copy-paste.
    */
  private def vocabRank(tokens: DataFrame): DataFrame =
    graft.operators.Vocab.frequencyRankVocab(tokens)

  /** The marked-vocab construction shared VERBATIM by t14d (compiled merge
    * table) and t14h (merge table loaded from the TrainBpe-emitted
    * artifact): the two queries differ only in where the merges come
    * from, which this helper's signature makes structural — the Scala
    * twin of the shared `markedVocabOracle` SQL.
    */
  private def markedVocab(
      s: SparkSession, dir: String, merges: Seq[(String, String)]): DataFrame =
    vocabRank(Tables.richDocuments(s, dir)
      .select(
        explode(TextFunctions.bpeTokensMarked(col("text"), merges)).as("token")))
      .withColumn("is_word_end", col("token").endsWith(TextKernels.EowMarker))

  /** The enriched corpus projected to the two columns the tokenizer family
    * reads — the narrowest thing a per-query materialization point can hold
    * (Materialize's contract: project before caching).
    */
  private def richSlim(s: SparkSession, dir: String): DataFrame =
    Tables.richDocuments(s, dir).select(col("doc_id"), col("text"))

  /** [[richSlim]] materialized ONCE for queries whose plan consumes the
    * corpus in MORE THAN ONE branch (r17 opt): the ~6x doc_id-seeded
    * enrichment expression is the family's dominant remaining per-row cost
    * after the BPE memo, and without a materialization point every branch
    * re-evaluates it serially in its own scan (t14e: vocab build + encode;
    * t14b/t14i: both prefix-sum phases). Single-branch queries (t14c/t14d/
    * t14g/t14h) deliberately stay uncached — measured pure overhead there
    * (the t20-vs-t21 asymmetry).
    */
  private def richCached(s: SparkSession, dir: String): DataFrame =
    graft.operators.Materialize.cached(richSlim(s, dir), eager = false)

  /** The corpus as one (doc_id, p, token) row per MARKED BPE token
    * occurrence under `merges` — the shared front half of the t14e/t14f/
    * t14g encode queries (and of t14f's train step).
    */
  private def markedTokenStream(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs
      .select(
        col("doc_id"),
        posexplode(TextFunctions.bpeTokensMarked(col("text"), merges))
          .as(Seq("p", "token")))

  /** Load the persisted (merges, vocab) artifact and ENCODE the corpus with
    * it — the shared back half of t14f/t14g. The returned plan's only
    * corpus pass is the encode explode; token ids come from a broadcast of
    * the artifact's bounded vocab SCAN (never a recomputed corpus
    * aggregate), and the merge table the kernel applies is the artifact's.
    */
  private def encodeFromArtifact(s: SparkSession, docs: DataFrame, art: String): DataFrame = {
    val merges = TokenizerArtifact.loadMerges(s, art)
    val vocab = TokenizerArtifact.loadVocab(s, art).select(col("token"), col("token_id"))
    markedTokenStream(docs, merges)
      .join(broadcast(vocab), Seq("token"))
      .select(
        col("doc_id"),
        (col("p") + 1).cast("long").as("pos"),
        col("token"),
        col("token_id"))
  }

  /** Train the (merges, vocab) artifact for `sfDir` and persist it via
    * [[TokenizerArtifact.save]]. Merges = the committed [[Bpe.Merges]]
    * (training is TrainBpe's offline job; committing the table is what
    * keeps the DuckDB oracles replayable), vocab = t14d's marked
    * frequency-rank vocab computed fresh from the corpus.
    */
  private def trainAndSaveTokenizer(s: SparkSession, docs: DataFrame, art: String): Unit = {
    val vocab = vocabRank(markedTokenStream(docs, Bpe.Merges).select("token"))
    TokenizerArtifact.save(s, Bpe.Merges, vocab, art)
    FixtureCleanup.registerTree(new java.io.File(art))
  }

  /** t14f's artifact directory: one per (process, sf dir), overwritten per
    * invocation — each run pays the full train+save+load+encode lifecycle
    * (that IS the measured surface), without leaking a temp dir per run.
    * Same convention as the x_v12 index dir.
    */
  private object ArtifactDir {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def of(sfDir: String, variant: String): String = {
      val key = FixtureKey.of(sfDir, "documents.parquet", variant = s"bpe_artifact_$variant")
      cache.getOrElseUpdate(key, {
        val d = java.nio.file.Files.createTempDirectory(s"graft_bpe_${variant}_").toFile
        d.deleteOnExit()
        d.toString
      })
    }
  }

  /** t14g's SERVING artifact: trained + saved ONCE per (process, sf dir)
    * and never overwritten (content-fingerprint key, so a regenerated sf
    * dir still re-trains) — the x_v14 convention: a 100 TB encode job
    * trains its tokenizer offline and only ever pays load + encode, so the
    * bench needs a row where the measured surface is exactly that.
    */
  private object ServeArtifact {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def of(s: SparkSession, sfDir: String): String = {
      val key = FixtureKey.of(sfDir, "documents.parquet", variant = "bpe_artifact_serve")
      cache.getOrElseUpdate(key, {
        val d = java.nio.file.Files.createTempDirectory("graft_bpe_serve_").toFile
        trainAndSaveTokenizer(s, richSlim(s, sfDir), d.toString)
        d.toString
      })
    }
  }

  /** DuckDB twin of [[Corpus.hashBucket]]. */
  private def duckBucket(saltedExpr: String, buckets: Int): String =
    s"(CAST(concat('0x', substr(md5($saltedExpr), 1, 8)) AS BIGINT) % $buckets)"

  /** DuckDB twin of ONE window of [[graft.functions.TextKernels
    * .charWindowHashSeq]]: the Karp-Rabin polynomial
    * `h = (h*base + codepoint) % p` folded over the L codepoints starting
    * at `$startVar` (the Spark side computes the same values with the O(n)
    * rolling recurrence; the oracle re-derives each window directly).
    * Constants mirror `TextFunctions.CharWindowBase` / `MinhashP`.
    */
  private def duckCharWindowHash(startVar: String, l: Int): String =
    s"list_reduce(list_transform(generate_series($startVar, $startVar + ${l - 1}), " +
      s"j -> CAST(ord(substr(text, j, 1)) AS BIGINT)), " +
      s"(h, c) -> (h * ${TextKernels.CharWindowBase} + c) % ${TextFunctions.MinhashP})"

  private val SampleRates = Map("src0" -> 800, "src1" -> 500, "src2" -> 300)
  private val SampleDefault = 200

  /** t23 shingle width — the span resolution: a repeated region shorter
    * than SpanN tokens is below the memorization-pass radar (and the
    * repeated-shingle set shrinks fast as SpanN grows).
    */
  private val SpanN = 5

  /** t25 char-window length — ExactSubstr's minimum-match length (their
    * 50 bytes), sized to the synthetic docs' ~5-char tokens so a SpanN-
    * token repeat is also caught at char granularity.
    */
  private val CharL = 25

  /** t26 winnow window — shared runs >= CharL + WinnowW - 1 chars are
    * guaranteed caught; ~2/(w+1) of positions survive selection.
    */
  private val WinnowW = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C-split — deterministic 80/10/10 train/val/test assignment by salted
    // content-id hash: re-runs and cluster resizes can never move a document
    // across the split boundary.
    "t11_train_split" -> { (s, dir) =>
      Corpus
        .deterministicSplit(
          Tables.documents(s, dir), col("doc_id"), "split",
          Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select("doc_id", "hash_bucket", "split")
    },
    // C-contamination — 3-word-shingle overlap between the training corpus
    // and a held-out benchmark slice (every 20th doc): the decontamination
    // report run before any training job.
    "t12_contamination" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Corpus.contamination(
        train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        bench = d.filter(pmod(col("doc_id"), lit(20)) === 0),
        id = col("doc_id"), text = col("text"), minOverlap = 3L)
    },
    // C-sample — per-source mixture weights via hash-threshold sampling
    // (zero shuffle; no per-stratum ranking window to collapse parallelism).
    "t13_weighted_sample" -> { (s, dir) =>
      Corpus
        .weightedSample(
          Tables.documents(s, dir), col("doc_id"), col("source"), "sample",
          SampleRates, SampleDefault)
        .select("doc_id", "source", "sample_bucket", "rate_per_mille")
    },
    // D3 — per-column profiling summary (operators/Profile.scala): the
    // dataset-level quality report over the documents table. Unpivoted
    // (col_name, value) layout grouped by column name — one shuffle keyed
    // by column, exact distincts, no global scalar-agg funnel.
    "d3_profile_columns" -> { (s, dir) =>
      Profile.columns(
        Tables.documents(s, dir),
        numericCols = Seq("doc_id", "n_chars"),
        stringCols = Seq("text", "lang", "source"))
    },
    // C-pack — GPT-style concat-and-chunk packing at 256-token sequences via
    // the two-phase distributed prefix sum (no global window on the corpus).
    "t14_sequence_packing" -> { (s, dir) =>
      Corpus.packSequences(
        Tables.documents(s, dir),
        col("doc_id"), size(split(col("text"), " ")), seqLen = 256)
    },
    // C-pack-bpe — t14's packing with TOKENIZER-REAL counts: n_tokens is
    // the BPE token count under the corpus-trained committed merge table
    // (operators/Bpe.scala), so seq_id/offset math matches what a trainer
    // consuming this tokenizer would see. t14 (whitespace counts) stays as
    // the structural twin. Runs on the ENRICHED corpus (Tables
    // .richDocuments, r12): the raw fixture has 31 distinct words, which
    // saturated training at 89 merges and made the tokenizer family a toy.
    "t14b_bpe_packing" -> { (s, dir) =>
      // richCached: the count kernel (and the enrichment below it)
      // evaluates in BOTH prefix-sum phases — see richCached's doc
      Corpus.packSequences(
        richCached(s, dir),
        col("doc_id"),
        TextFunctions.bpeTokenCount(col("text"), Bpe.Merges), seqLen = 256)
    },
    // C-vocab — the tokenizer's VOCAB EMISSION (the artifact an external
    // trainer loads alongside the merge table): every BPE token occurrence
    // in the corpus, aggregated to (token, n_occurrences) with token_id by
    // frequency rank. The rank window runs over the AGGREGATED vocab —
    // bounded by alphabet + merge table, not corpus rows — so the single
    // partition it implies is a dimension-table sort, never a corpus sort.
    "t14c_bpe_vocab" -> { (s, dir) =>
      vocabRank(Tables.richDocuments(s, dir)
        .select(explode(TextFunctions.bpeTokens(col("text"), Bpe.Merges)).as("token")))
    },
    // C-vocab-marked — t14c's vocab with the Sennrich/GPT-2 END-OF-WORD
    // MARKER on each word-final token (r14, the carried verdict extension):
    // the (merges, vocab) pair becomes loadable by external tokenizer
    // stacks because word boundaries are reconstructible from the token
    // stream. Merges stay trained/applied unmarked (strictly intra-word);
    // the marker is attached at emission only, so counts match t14b
    // exactly. Same plan shape as t14c: the rank window runs over the
    // AGGREGATED vocab (bounded by alphabet + merges, each token at most
    // doubled by its marked form), never the corpus.
    "t14d_bpe_vocab_marked" -> { (s, dir) =>
      markedVocab(s, dir, Bpe.Merges)
    },
    // C-vocab-artifact — t14d's marked vocab with the merge table LOADED
    // from the TrainBpe-emitted artifact directory (r17, verdict task 3):
    // the committed `artifacts/bpe_sf0.1` parquet — the directory form of
    // the compiled TrainedMerges constant, written by the same training
    // job on the same corpus — is what this query's kernel applies; the
    // compiled table never appears in the construction (tamper-proven in
    // TokenizerArtifactSpec: pointing the conf at a truncated artifact
    // changes the vocab). The oracle is t14d's verbatim: artifact merges
    // and compiled merges are the same trained table, so an artifact-
    // loading engine must reproduce the compiled-fixture oracle exactly.
    "t14h_bpe_vocab_artifact" -> { (s, dir) =>
      markedVocab(s, dir,
        TokenizerArtifact.loadMerges(s, TokenizerArtifact.shippedDir(s)))
    },
    // C-pack-streams — t14b's packing emitting the MARKED TOKEN STREAM per
    // packed sequence (r17, verdict task 6): the export a marked-vocab
    // trainer actually ingests — one row per 256-token training sequence
    // with its tokens in global order, doc-boundary-crossing by
    // construction. Same corpus-pass shape as t14b: the tokenize kernel
    // evaluates in both prefix-sum branches exactly as t14b's count
    // kernel does (phase 1 aggregates one row per 64-doc bucket from its
    // own pass; the `toks` array rides packSequences' carry path through
    // phase 2 only). The token payload crosses two keyed uniform
    // exchanges — the bucket window's (arrays, 64 docs/key, inherent to
    // any one-query offset+payload formulation; see the packSequences
    // carry note) and the final seq_id groupBy's (exploded tokens,
    // exactly 256/key by construction). n_tokens < 256 only on the final
    // partial sequence.
    "t14i_bpe_packed_streams" -> { (s, dir) =>
      val seqLen = 256
      val withToks = richCached(s, dir).select(
        col("doc_id"),
        TextFunctions.bpeTokensMarked(col("text"), Bpe.Merges).as("toks"))
      Corpus.packSequences(
          withToks, col("doc_id"), size(col("toks")), seqLen = seqLen,
          carry = Seq("toks" -> col("toks")))
        .select(col("start_offset"), posexplode(col("toks")).as(Seq("p", "token")))
        .withColumn("gp", col("start_offset") + col("p"))
        .withColumn("seq_id", expr(s"gp div $seqLen"))
        // n_docs WITHOUT count(DISTINCT doc_id): tokens of one doc are
        // gp-contiguous, so each (doc, sequence) intersection holds exactly
        // one token at gp == max(sequence start, doc start) — summing that
        // pre-shuffle indicator counts distinct docs per sequence while
        // keeping the aggregate SINGLE-phase. The distinct form would
        // expand to a two-level aggregate shipping the collect_list
        // buffers through an extra (seq_id, doc_id) exchange — a second
        // full pass of the token payload (PlanQualitySpec pins the
        // exchange budget).
        .withColumn(
          "doc_head",
          (col("gp") === greatest(col("seq_id") * lit(seqLen.toLong),
            col("start_offset"))).cast("long"))
        .groupBy("seq_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("doc_head")).as("n_docs"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("gp"), col("token")))),
              x => x.getField("token")),
            " ").as("seq_text"))
    },
    // C-encode — the ENCODE pass that closes the tokenizer loop (r15,
    // verdict item 7): apply the TRAINED merge table to the corpus and
    // emit each document as its ordered token-id sequence — the artifact a
    // training job actually consumes, and the natural consumer of the
    // (merges, marked vocab) pair t14d made externally loadable. One row
    // per token occurrence (doc_id, pos, token, token_id): the id space is
    // t14d's frequency-rank ids, resolved by a BROADCAST join — the vocab
    // is bounded by alphabet + merge table (each token at most doubled by
    // its marked form), so the corpus-sized encode stream never shuffles
    // for the lookup. Two corpus passes by design (vocab build + encode),
    // exactly the two passes a real encode ships as; the rank window runs
    // over the AGGREGATED vocab, never corpus rows (t14c's plan shape).
    "t14e_bpe_encode" -> { (s, dir) =>
      // richCached: the vocab build and the encode are separate corpus
      // branches — see richCached's doc
      val toks = markedTokenStream(richCached(s, dir), Bpe.Merges)
      val vocab = vocabRank(toks.select("token")).select(col("token"), col("token_id"))
      toks
        .join(broadcast(vocab), Seq("token"))
        .select(
          col("doc_id"),
          (col("p") + 1).cast("long").as("pos"),
          col("token"),
          col("token_id"))
    },
    // C-encode-artifact — t14e's encode through the PERSISTED tokenizer
    // (r16, verdict item 3): train the (merges, vocab) pair, SAVE it via
    // TokenizerArtifact (parquet, the same artifact lifecycle as the
    // x_v12 ANN index), LOAD it back, and encode the corpus with the
    // LOADED state — merge table and token ids both come from the
    // artifact, so the returned plan's only corpus pass is the encode
    // explode (no recomputed vocab aggregate; the broadcast side is a
    // bounded parquet scan). Must hash-match t14e's identical oracle —
    // the proof that an encode job can reuse a persisted tokenizer
    // without retraining and lose nothing.
    "t14f_bpe_encode_artifact" -> { (s, dir) =>
      val art = ArtifactDir.of(dir, "t14f")
      // richCached: the train step's vocab pass and the encode pass are
      // separate corpus branches (the save executes the first eagerly)
      val rich = richCached(s, dir)
      trainAndSaveTokenizer(s, rich, art)
      encodeFromArtifact(s, rich, art)
    },
    // C-encode-serve — the SERVING path in isolation: the same persisted-
    // artifact encode as t14f, but against a memoized artifact (trained +
    // saved once per process, the x_v14 convention) so the measured
    // surface is load + encode ONLY — the per-run cost a 100 TB encode
    // job actually pays, with training amortized offline where it
    // belongs. Hash-matches t14e's oracle.
    "t14g_bpe_encode_serve" -> { (s, dir) =>
      // single corpus pass — uncached by the richCached rule
      encodeFromArtifact(s, richSlim(s, dir), ServeArtifact.of(s, dir))
    },
    // C-spans — cross-document repeated n-gram SPAN dedup (the train-set
    // memorization pass): merged token intervals per doc covered by
    // shingles that occur in >= 2 distinct docs. The t12 shingle machinery
    // extended with per-doc island merge; blocked equi-join on the shingle
    // hash, never all-pairs.
    "t23_repeated_spans" -> { (s, dir) =>
      Corpus.repeatedSpans(
        Tables.documents(s, dir), col("doc_id"), col("text"), n = SpanN, minDocs = 2L)
    },
    // C-redact — the removal half of the memorization pass: t23's spans
    // applied back onto the corpus (tokens inside any repeated span drop,
    // survivors re-join in order). One row per input document, so corpus
    // accounting (n_tokens vs n_redacted) is closed over the whole table.
    "t24_span_redaction" -> { (s, dir) =>
      Corpus.redactSpans(
        Tables.documents(s, dir), col("doc_id"), col("text"), n = SpanN, minDocs = 2L)
    },
    // C-charspans — the ExactSubstr-style pass at CHARACTER granularity:
    // maximal char spans covered by 25-char windows repeated across >= 2
    // docs. Catches repeats the token form misses (re-spaced/re-punctuated
    // passages align at char offsets, not token boundaries).
    "t25_char_spans" -> { (s, dir) =>
      Corpus.repeatedCharSpans(
        Tables.documents(s, dir), col("doc_id"), col("text"), l = CharL, minDocs = 2L)
    },
    // C-winnow — t25's char-span pass behind MOSS winnowing (w=4): only
    // each 4-window's minimum hash survives to the explode (~2.5x less
    // volume), with the winnowing guarantee that shared runs >= L+w-1
    // chars still collide. The 100 TB form of char-level dedup.
    "t26_winnowed_spans" -> { (s, dir) =>
      Corpus.winnowedCharSpans(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        l = CharL, w = WinnowW, minDocs = 2L)
    },
    // C-charredact — t24's twin at char granularity: t25's exact spans
    // applied back onto the corpus (chars inside any repeated span drop),
    // closing the char family detect -> remove like the token family.
    "t27_char_redaction" -> { (s, dir) =>
      Corpus.redactCharSpans(
        Tables.documents(s, dir), col("doc_id"), col("text"), l = CharL, minDocs = 2L)
    },
    // C-charcontam — t12's decontamination report at CHAR granularity (the
    // ExactSubstr / GPT-3-appendix form): overlap judged on distinct
    // 25-char window hashes, so a leaked benchmark passage still matches
    // when token boundaries shifted. Bench side broadcast; corpus never
    // shuffled.
    "t28_char_contamination" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Corpus.charContamination(
        train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        bench = d.filter(pmod(col("doc_id"), lit(20)) === 0),
        id = col("doc_id"), text = col("text"), l = CharL, minOverlap = 2L)
    },
    // C-pii — email/phone redaction with match counts. The synthetic docs
    // carry no PII, so each row gets a deterministic injected contact tail;
    // patterns are simple character classes that behave identically under
    // Java regex (Spark) and RE2 (DuckDB).
    "t15_pii_redaction" -> { (s, dir) =>
      val email = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
      val phone = "555-[0-9]{4}"
      val t = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(t, lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(t, lit(phone), lit(0))).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(t, email, "<EMAIL>"), phone, "<PHONE>").as("redacted"))
    }
  )

  /** The repeated-set → hits → island-merge CTE chain over a positioned
    * CTE `src(doc_id, pos, h)`, ending in `${pre}sp(doc_id, span_start,
    * span_end)` — the SQL twin of the Scala side's shared
    * `Corpus.spansFromHits`, parameterized the same way so a fix to the
    * island/break logic lands ONCE for every span oracle (t23/t24 token,
    * t25 char, t26 winnowed).
    */
  private def islandCtes(src: String, pre: String, width: Int): String =
    s"""${pre}rep AS (SELECT h FROM $src GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |${pre}hits AS (SELECT doc_id, pos, pos + ${width - 1} AS e FROM $src JOIN ${pre}rep USING (h)),
       |${pre}isl AS (SELECT doc_id, pos, e,
       |  CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |       THEN 1 ELSE 0 END AS brk FROM ${pre}hits),
       |${pre}g AS (SELECT doc_id, pos, e,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM ${pre}isl),
       |${pre}sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end
       |FROM ${pre}g GROUP BY doc_id, island)""".stripMargin

  /** The t23 span pipeline as a CTE chain ending in
    * `sp(doc_id, span_start, span_end)` — shared by the t23 (detection)
    * and t24 (redaction) oracles so both judge spans identically.
    */
  private val spanCtes: String = {
    val sh = (0 until SpanN).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |psh AS (SELECT doc_id,
       |  unnest(list_transform(generate_series(1, greatest(len(tk) - ${SpanN - 1}, 0)),
       |    i -> {'pos': i, 'h': ${duckBucket(sh, 2147483647)}})) AS u
       |  FROM toks),
       |ph AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM psh),
       |${islandCtes("ph", "", SpanN)}""".stripMargin
  }

  private val shCte = // distinct 3-gram word shingle hashes per doc
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |shh AS (SELECT doc_id,
       |  CASE WHEN len(tk) < 3 THEN []
       |       ELSE list_transform(
       |              list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])),
       |              x -> ${duckBucket("x", 2147483647)}) END AS h
       |  FROM toks)""".stripMargin

  /** DuckDB twin of one [[Profile.columns]] output row. */
  private def duckProfileNum(c: String): String =
    s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_present,
       |  count(DISTINCT $c) AS n_distinct,
       |  min(CAST($c AS DOUBLE)) AS min_num, max(CAST($c AS DOUBLE)) AS max_num,
       |  round(CAST(sum(CAST($c AS DECIMAL(27,8))) AS DOUBLE) / nullif(count($c), 0), 6) AS mean,
       |  round(stddev_samp(CAST($c AS DOUBLE)), 4) AS std,
       |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       |  CAST(NULL AS DOUBLE) AS avg_len
       |FROM documents""".stripMargin

  private def duckProfileStr(c: String): String =
    s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_present,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       |  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
       |  min($c) AS min_str, max($c) AS max_str,
       |  round(CAST(sum(length($c)) AS DOUBLE) / nullif(count($c), 0), 6) AS avg_len
       |FROM documents""".stripMargin

  /** The BPE apply chain as one CTE per merge — replayable declaratively
    * BECAUSE the trainer never emits `a == b` merges (no overlapping
    * matches, so the all-at-once `list_transform` rewrite per pass equals
    * the kernel's left-to-right greedy scan; see operators/Bpe.scala).
    * Generated from the SAME committed [[Bpe.Merges]] constant the Spark
    * side applies, so the two can never drift.
    */
  private def bpeCtes: String = bpeCtesImpl(escaped = false)

  /** [[bpeCtes]] with the kernel's MARKED-path pre-escape mirrored (r16
    * review finding): `bpeTokensMarked` rewrites literal '</w>' in input
    * to the escaped form BEFORE symbolization, so the oracles of the
    * marked surfaces (t14d vocab, the t14e/t14f/t14g encodes) must
    * tokenize the same rewritten text or a corpus containing a verbatim
    * marker would hash-mismatch as a false engine failure. The replace is
    * a no-op on the marker-free syllable corpus (bit-identical results),
    * but the oracle now reproduces the kernel's semantics on ANY input.
    * Unmarked surfaces (t14b counts, t14c vocab) keep the raw text — the
    * kernel only escapes when `marked`.
    */
  private def bpeCtesMarked: String = bpeCtesImpl(escaped = true)

  private def bpeCtesImpl(escaped: Boolean): String = {
    def esc(s: String) = s.replace("'", "''")
    val steps = Bpe.Merges.zipWithIndex.map { case ((a, b), k) =>
      s"""w${k + 1} AS (SELECT doc_id, wi,
         |  list_filter(list_transform(generate_series(1, len(xs)), i ->
         |    CASE WHEN xs[i] = '${esc(a)}' AND i < len(xs) AND xs[i+1] = '${esc(b)}'
         |         THEN '${esc(a + b)}'
         |         WHEN i > 1 AND xs[i-1] = '${esc(a)}' AND xs[i] = '${esc(b)}' THEN NULL
         |         ELSE xs[i] END), x -> x IS NOT NULL) AS xs FROM w$k)""".stripMargin
    }
    // DuckDB single-quoted strings take backslashes literally, so the
    // escaped form needs no further quoting
    val src =
      if (escaped)
        s"replace(text, '${TextKernels.EowMarker}', '${TextKernels.EowEscaped}')"
      else "text"
    // wi = the word's 1-based position in its document (r15, for t14e):
    // the chain holds one WORD per row, so reconstructing the document's
    // token ORDER downstream needs the word index carried through every
    // merge pass; the vocab/packing oracles simply ignore the column.
    (Tables.richDocsOracleCte
      +: s"""w0 AS (SELECT doc_id, u.wi AS wi,
         |  list_transform(generate_series(1, length(u.w)), i -> substr(u.w, i, 1)) AS xs
         |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |      j -> struct_pack(wi := j, w := tk[j]))) AS u
         |    FROM (SELECT doc_id, string_split($src, ' ') AS tk FROM docs_rich)))""".stripMargin
      +: steps).mkString(",\n")
  }

  /** The encode oracle, shared verbatim by t14e (in-query vocab), t14f
    * (persisted-artifact lifecycle), and t14g (memoized serving artifact):
    * document token order reconstructed from (wi, ti) — wi is the word's
    * position carried through the merge CTEs, ti the token's position
    * inside its word's final symbol list; the marker lands on each
    * word-final token with the same '</w>' constant the Spark kernel
    * appends, and ids are the marked vocab's frequency-rank ids (t14d).
    * One definition, three consumers: the three queries differ only in
    * WHERE the (merges, vocab) state lives, which the oracle must not see.
    */
  private def encodeOracle: String =
    s"""WITH $bpeCtesMarked,
       |tok AS (SELECT doc_id, wi, u.ti AS ti, u.tok AS token FROM (
       |  SELECT doc_id, wi, unnest(list_transform(generate_series(1, len(xs)),
       |    i -> struct_pack(ti := i, tok :=
       |      CASE WHEN i = len(xs) THEN xs[i] || '${TextKernels.EowMarker}'
       |           ELSE xs[i] END))) AS u
       |  FROM w${Bpe.Merges.size})),
       |agg AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY token),
       |voc AS (SELECT token,
       |  row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id
       |  FROM agg)
       |SELECT t.doc_id,
       |  row_number() OVER (PARTITION BY t.doc_id ORDER BY t.wi, t.ti) AS pos,
       |  t.token, v.token_id
       |FROM tok t JOIN voc v USING (token)""".stripMargin

  /** The marked-vocab oracle, shared verbatim by t14d (compiled merge
    * table) and t14h (merge table loaded from the TrainBpe-emitted
    * artifact directory): the two queries differ only in WHERE the merge
    * table lives, which the oracle must not see. The w{N} CTE holds ONE
    * WORD per row (w0 unnests the whitespace split), so "word-final token"
    * is simply the list's last element — marked with the same '</w>'
    * constant the Spark kernel appends.
    */
  private def markedVocabOracle: String =
    s"""WITH $bpeCtesMarked,
       |tokm AS (SELECT unnest(list_transform(generate_series(1, len(xs)),
       |    i -> CASE WHEN i = len(xs) THEN xs[i] || '${TextKernels.EowMarker}'
       |         ELSE xs[i] END)) AS token
       |  FROM w${Bpe.Merges.size}),
       |agg AS (SELECT token, count(*) AS n_occurrences FROM tokm GROUP BY token)
       |SELECT token, n_occurrences,
       |  row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id,
       |  token LIKE '%${TextKernels.EowMarker}' AS is_word_end
       |FROM agg""".stripMargin

  val oracle: Map[String, String] = Map(
    "t14b_bpe_packing" ->
      // NULL-text docs produce zero w0 rows (unnest of a NULL split), so the
      // per-doc sum must LEFT JOIN back to documents to keep their row with
      // NULL n_tokens — t14's len(string_split(..)) form preserves them and
      // the Spark side's null-safe bpeTokenCount call does too.
      s"""WITH $bpeCtes,
         |cnt AS (SELECT d.doc_id, c.n_tokens FROM documents d LEFT JOIN
         |  (SELECT doc_id, CAST(sum(len(xs)) AS BIGINT) AS n_tokens
         |   FROM w${Bpe.Merges.size} GROUP BY doc_id) c USING (doc_id)),
         |o AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS start_offset
         |  FROM cnt)
         |SELECT doc_id, n_tokens, start_offset,
         |  start_offset // 256 AS seq_id,
         |  start_offset % 256 AS offset_in_seq,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1
         |  END AS n_seqs_spanned
         |FROM o""".stripMargin,
    "t14c_bpe_vocab" ->
      s"""WITH $bpeCtes,
         |tok AS (SELECT unnest(xs) AS token FROM w${Bpe.Merges.size}),
         |agg AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY token)
         |SELECT token, n_occurrences,
         |  row_number() OVER (ORDER BY n_occurrences DESC, token) AS token_id
         |FROM agg""".stripMargin,
    "t14d_bpe_vocab_marked" -> markedVocabOracle,
    // t14h: the SAME oracle as t14d by design — the TrainBpe-emitted
    // artifact directory and the compiled TrainedMerges constant are the
    // same trained table, so loading the directory must reproduce the
    // compiled-fixture vocab bit for bit; a hash mismatch here would mean
    // the artifact path applies different merges.
    "t14h_bpe_vocab_artifact" -> markedVocabOracle,
    "t14i_bpe_packed_streams" ->
      // per-doc ordered marked tokens (encodeOracle's tok CTE), per-doc
      // counts + the t14b prefix-sum offsets, then regroup by the global
      // 256-token cut; docs with NULL text carry no tok rows, which the
      // window sum treats exactly as the Spark side's null n_tokens
      s"""WITH $bpeCtesMarked,
         |tok AS (SELECT doc_id, wi, u.ti AS ti, u.tok AS token FROM (
         |  SELECT doc_id, wi, unnest(list_transform(generate_series(1, len(xs)),
         |    i -> struct_pack(ti := i, tok :=
         |      CASE WHEN i = len(xs) THEN xs[i] || '${TextKernels.EowMarker}'
         |           ELSE xs[i] END))) AS u
         |  FROM w${Bpe.Merges.size})),
         |ord AS (SELECT doc_id, token,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) - 1 AS p
         |  FROM tok),
         |cnt AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
         |off AS (SELECT doc_id,
         |  CAST(coalesce(sum(n_tokens) OVER (
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS start_offset
         |  FROM cnt),
         |g AS (SELECT o.doc_id, f.start_offset + o.p AS gp, o.token
         |  FROM ord o JOIN off f USING (doc_id))
         |SELECT gp // 256 AS seq_id, count(*) AS n_tokens,
         |  count(DISTINCT doc_id) AS n_docs,
         |  string_agg(token, ' ' ORDER BY gp) AS seq_text
         |FROM g GROUP BY 1""".stripMargin,
    "t14e_bpe_encode" -> encodeOracle,
    // t14f/t14g: the SAME oracle as t14e by design — the parquet-persisted
    // (merges, vocab) artifact must encode bit-identically to the in-query
    // computation; a hash mismatch here would mean persistence loses
    // information.
    "t14f_bpe_encode_artifact" -> encodeOracle,
    "t14g_bpe_encode_serve" -> encodeOracle,
    "d3_profile_columns" ->
      (Seq("doc_id", "n_chars").map(duckProfileNum) ++
        Seq("text", "lang", "source").map(duckProfileStr))
        .mkString("\nUNION ALL\n"),
    "t11_train_split" -> {
      val b = duckBucket("'split:' || CAST(doc_id AS VARCHAR)", 100)
      s"""SELECT doc_id, $b AS hash_bucket,
         |  CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },
    "t12_contamination" ->
      s"""WITH $shCte,
         |tr AS (SELECT doc_id AS train_doc, unnest(h) AS hh FROM shh WHERE doc_id % 20 <> 0),
         |be AS (SELECT doc_id AS bench_doc, unnest(h) AS hh FROM shh WHERE doc_id % 20 = 0),
         |sz AS (SELECT doc_id AS bench_doc, len(h) AS n_bench FROM shh WHERE doc_id % 20 = 0),
         |ov AS (
         |  SELECT train_doc, bench_doc, count(*) AS n_overlap
         |  FROM tr JOIN be USING (hh) GROUP BY 1, 2)
         |SELECT o.train_doc, o.bench_doc, o.n_overlap,
         |  o.n_overlap * 1.0 / s.n_bench AS bench_frac
         |FROM ov o JOIN sz s USING (bench_doc)
         |WHERE o.n_overlap >= 3""".stripMargin,
    "t13_weighted_sample" -> {
      val b = duckBucket("'sample:' || CAST(doc_id AS VARCHAR)", 1000)
      val rate = SampleRates.foldLeft(s"$SampleDefault") { case (acc, (k, v)) =>
        s"CASE WHEN source = '$k' THEN $v ELSE $acc END"
      }
      s"""SELECT doc_id, source, $b AS sample_bucket,
         |  CAST($rate AS BIGINT) AS rate_per_mille
         |FROM documents
         |WHERE $b < $rate""".stripMargin
    },
    "t14_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 256 AS seq_id,
        |  start_offset % 256 AS offset_in_seq,
        |  CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1
        |  END AS n_seqs_spanned
        |FROM o""".stripMargin,
    "t23_repeated_spans" ->
      s"""WITH $spanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens
         |FROM sp""".stripMargin,
    "t28_char_contamination" -> {
      val L = CharL
      s"""WITH cw AS (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, greatest(length(text) - ${L - 1}, 0)),
         |    i -> ${duckCharWindowHash("i", L)})) AS hs
         |  FROM documents),
         |tr AS (SELECT doc_id AS train_doc, unnest(hs) AS h FROM cw WHERE doc_id % 20 <> 0),
         |be AS (SELECT doc_id AS bench_doc, unnest(hs) AS h FROM cw WHERE doc_id % 20 = 0),
         |sz AS (SELECT doc_id AS bench_doc, len(hs) AS n_bench FROM cw WHERE doc_id % 20 = 0),
         |ov AS (
         |  SELECT train_doc, bench_doc, count(*) AS n_overlap
         |  FROM tr JOIN be USING (h) GROUP BY 1, 2)
         |SELECT o.train_doc, o.bench_doc, o.n_overlap,
         |  o.n_overlap * 1.0 / s.n_bench AS bench_frac
         |FROM ov o JOIN sz s USING (bench_doc)
         |WHERE o.n_overlap >= 2""".stripMargin
    },
    "t25_char_spans" -> {
      val L = CharL
      s"""WITH cps AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, greatest(length(text) - ${L - 1}, 0)),
         |    i -> {'pos': i, 'h': ${duckCharWindowHash("i", L)}})) AS u
         |  FROM documents),
         |cph AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM cps),
         |${islandCtes("cph", "c", CharL)}
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_chars
         |FROM csp""".stripMargin
    },
    "t27_char_redaction" -> {
      val L = CharL
      s"""WITH cps AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, greatest(length(text) - ${L - 1}, 0)),
         |    i -> {'pos': i, 'h': ${duckCharWindowHash("i", L)}})) AS u
         |  FROM documents),
         |cph AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM cps),
         |${islandCtes("cph", "c", CharL)},
         |tch AS (SELECT doc_id, gs.i AS pos, substr(text, gs.i, 1) AS ch
         |  FROM documents, unnest(generate_series(1, length(text))) AS gs(i)),
         |kept AS (SELECT t.doc_id, t.pos, t.ch FROM tch t
         |  WHERE NOT EXISTS (SELECT 1 FROM csp s
         |    WHERE s.doc_id = t.doc_id
         |      AND t.pos BETWEEN s.span_start AND s.span_end)),
         |ka AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(ch, '' ORDER BY pos) AS rt FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(length(d.text) AS BIGINT) AS n_chars,
         |  CAST(length(d.text) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_redacted,
         |  coalesce(ka.rt, '') AS redacted_text
         |FROM documents d LEFT JOIN ka USING (doc_id)""".stripMargin
    },
    "t26_winnowed_spans" -> {
      val L = CharL
      val w = WinnowW
      s"""WITH pv AS (SELECT doc_id, u.pos AS pos, u.v AS v FROM (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(length(text) - ${L - 1}, 0)),
         |      i -> {'pos': i,
         |            'v': ${duckCharWindowHash("i", L)} * 4294967296 + i}))
         |    AS u FROM documents)),
         |wmin AS (SELECT doc_id, pos,
         |    min(v) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS mv
         |  FROM pv),
         |sel AS (SELECT DISTINCT doc_id, mv FROM wmin WHERE pos >= $w),
         |wph AS (SELECT doc_id, mv % 4294967296 AS pos, mv // 4294967296 AS h FROM sel),
         |${islandCtes("wph", "w", CharL)}
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_chars
         |FROM wsp""".stripMargin
    },
    "t24_span_redaction" ->
      s"""WITH $spanCtes,
         |tt AS (SELECT doc_id, u2.pos AS pos, u2.tok AS tok FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |    i -> {'pos': i, 'tok': tk[i]})) AS u2 FROM toks)),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tt t
         |  WHERE NOT EXISTS (SELECT 1 FROM sp s
         |    WHERE s.doc_id = t.doc_id
         |      AND t.pos BETWEEN s.span_start AND s.span_end)),
         |ka AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY pos) AS rt FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(string_split(d.text, ' ')) - coalesce(ka.n_kept, 0) AS BIGINT)
         |    AS n_redacted,
         |  coalesce(ka.rt, '') AS redacted_text
         |FROM documents d LEFT JOIN ka USING (doc_id)""".stripMargin,
    "t15_pii_redaction" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example.com or 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS n_emails,
        |  len(regexp_extract_all(t, '555-[0-9]{4}')) AS n_phones,
        |  regexp_replace(regexp_replace(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |                 '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM d""".stripMargin
  )
}
