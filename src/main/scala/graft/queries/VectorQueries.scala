package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{TextDedup, VectorIndex, VectorOps}

/** Similarity-search queries over the embeddings table. */
object VectorQueries {

  /** x_v12's index directory: one per (process, sf dir), overwritten per
    * invocation — each run pays the full train+save+load+search lifecycle
    * (that IS the measured surface), without leaking a temp dir per run.
    */
  private object IndexDir {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    // one dir per (sf dir, consumer query): x_v12 and x_v13 write identical
    // index content, but sharing a dir would let one query's overwrite race
    // a still-lazy DataFrame the other returned (the k9 lesson)
    def of(sfDir: String, variant: String): String = {
      val key = FixtureKey.of(sfDir, "embeddings.parquet", variant = s"ivfpq_index_$variant")
      cache.getOrElseUpdate(key, {
        val d = java.nio.file.Files.createTempDirectory(s"graft_ivfpq_${variant}_").toFile
        d.deleteOnExit()
        d.toString
      })
    }
  }

  /** x_v14's SERVING index: trained + saved ONCE per (process, sf dir) and
    * never overwritten (content-fingerprint key, so a regenerated sf dir
    * still re-trains). x_v12/x_v13 deliberately pay the full
    * train+save+load lifecycle per invocation — that is their losslessness
    * proof — but a 100 TB serving job trains offline and only ever pays
    * load+search, so the bench needs a row where the measured surface is
    * exactly that. Same oracle as x_v13: the index content is identical,
    * memoization only moves WHEN it is built.
    */
  private object ServeIndex {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def of(s: SparkSession, sfDir: String): String = {
      val key = FixtureKey.of(sfDir, "embeddings.parquet", variant = "ivfpq_index_serve")
      cache.getOrElseUpdate(key, {
        val e = Tables.embeddings(s, sfDir).select(col("vec_id").as("id"), col("embedding"))
        val (model, codes) = VectorOps.ivfPqTrain(
          e, nCells = 8, dim = 64, m = 4, ks = 8,
          coarseIterations = 2, pqIterations = 2, trainModulus = 4)
        val d = java.nio.file.Files.createTempDirectory("graft_ivfpq_serve_").toFile
        VectorIndex.save(model, codes, d.toString)
        FixtureCleanup.registerTree(d)
        d.toString
      })
    }
  }

  /** DuckDB cosine between two DOUBLE lists, sequential accumulation. */
  private def duckCos(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))
       | / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |    * sqrt(list_sum(list_transform($b, x -> x * x)))))""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V1 — brute-force cosine top-3 per query vector (vec_id < 10 as the
    // query set, broadcast against the corpus).
    "v1_ann_topk" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      VectorOps.annTopK(
        queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")),
        corpus = e.filter(col("vec_id") >= 10),
        k = 3)
    },
    // V3 — scale-path ANN: sign-random-projection LSH buckets instead of
    // label blocking. The hyperplane signs are md5-derived constants shared
    // with the oracle builder, so the DuckDB SQL embeds the identical ±1
    // pattern and reproduces the bucketing bit-for-bit.
    "x_v3_ann_lsh_neardup" -> { (s, dir) =>
      VectorOps.nearDupLsh(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding")),
        dim = 64, threshold = 0.35, nBits = 8)
    },
    // V4 — IVF-cell-probed ANN (scale path #2). The Lloyd iteration is fully
    // deterministic (first-k seed, fixed iteration count, id-ordered mean
    // folds), so the oracle unrolls the same 3 iterations in DuckDB CTEs.
    "x_v4_ann_ivf" -> { (s, dir) =>
      VectorOps.annTopKIvf(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, nCells = 8)
    },
    // V4-fast — the PRODUCTION IVF shape: exactMeans=false swaps the
    // id-ordered mean fold for order-free fixed-point LONG power sums
    // (floor(x·1e8 + 0.5), the engine-portable rounding), cutting
    // centroid-update shuffle volume from O(rows × dims) to O(cells × dims)
    // via map-side partial aggregation. Integer addition is exact, so the
    // result is deterministic under ANY partitioning (unlike the avg() this
    // replaced) — which is what lets this row carry a full rows+schema+hash
    // DuckDB oracle (the same unrolled Lloyd SQL as x_v4 with a fixed-point
    // update step) instead of the previous rows-only gate. Recall
    // equivalence with the exact fold is additionally spec-asserted
    // (ExtensionOpsSpec "ivf fast-means path").
    "x_v4_fast" -> { (s, dir) =>
      VectorOps.annTopKIvf(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, nCells = 8, exactMeans = false)
    },
    // V5 — IVF with multi-probe (nProbe=2): queries search their 2 nearest
    // cells, the recall dial of the IVF family. Same unrolled-Lloyd oracle
    // with a ranked probe CTE.
    "x_v5_ann_ivf_probe2" -> { (s, dir) =>
      VectorOps.annTopKIvf(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, nCells = 8, nProbe = 2)
    },
    // V9 — product-quantization ADC top-k (scale path #3, the billion-vector
    // layout): 4 subspaces × 16 dims, 8-centroid codebooks per subspace
    // trained by the same deterministic fixed-point Lloyd as x_v4_fast on a
    // 1/4 id-modulus corpus sample (the standard bounded-sample PQ training,
    // and the lever that keeps training O(sample) at any corpus size), the
    // corpus reduced to 4 codes a row, queries carrying cid→d2 ADC tables.
    // Fully deterministic ⇒ the oracle unrolls all 4 per-subspace Lloyd runs
    // in DuckDB CTEs and hash-matches the ranked output.
    "x_v9_pq_adc" -> { (s, dir) =>
      VectorOps.annTopKPq(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, dim = 64, m = 4, ks = 8,
        trainModulus = 4)
    },
    // V10 — two-stage PQ retrieval: x_v9's ADC shortlist (10 deep) exact
    // cosine re-ranked to top-3 over only the shortlisted rows — the
    // standard production pipeline (quantized recall, exact precision on a
    // bounded set). Same unrolled training oracle plus a re-rank CTE.
    "x_v10_pq_rerank" -> { (s, dir) =>
      VectorOps.annTopKPqRerank(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, shortlist = 10,
        dim = 64, m = 4, ks = 8, trainModulus = 4)
    },
    // V11 — IVF-PQ (the FAISS IVFx,PQy layout, scale path #4): 8 coarse
    // cells × (4 subspaces × 8-centroid codebooks) over RESIDUALS
    // (v − own-cell centroid), queries probing their 2 nearest cells with
    // per-(query, cell) ADC tables — the IVFADC estimator. Both quantizer
    // levels train with the order-free fixed-point Lloyd, so the composed
    // pipeline still hash-matches a fully unrolled DuckDB oracle.
    "x_v11_ivfpq" -> { (s, dir) =>
      VectorOps.annTopKIvfPq(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        queryIds = (0L until 10L).toSeq, k = 3, nCells = 8,
        dim = 64, m = 4, ks = 8, coarseIterations = 2, pqIterations = 2,
        nProbe = 2, trainModulus = 4)
    },
    // V12 — the index LIFECYCLE: train the same IVF-PQ as x_v11, SAVE it as
    // parquet (params/centroids/books/codes), LOAD it back, and search with
    // the loaded state. Parquet round-trips doubles bit-exactly, so this
    // must hash-match the identical oracle as x_v11 — the proof that a
    // serving job can reuse a persisted index without retraining and lose
    // nothing.
    "x_v12_ivfpq_index" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val (model, codes) = VectorOps.ivfPqTrain(
        e, nCells = 8, dim = 64, m = 4, ks = 8,
        coarseIterations = 2, pqIterations = 2, trainModulus = 4)
      val idx = IndexDir.of(dir, "v12")
      VectorIndex.save(model, codes, idx)
      FixtureCleanup.registerTree(new java.io.File(idx))
      val (loaded, loadedCodes) = VectorIndex.load(s, idx)
      VectorOps.ivfPqSearch(
        loaded, loadedCodes, e, queryIds = (0L until 10L).toSeq, k = 3, nProbe = 2)
    },
    // V13 — the END-TO-END production retrieval pipeline: persisted-index
    // lifecycle (train → save → load, as x_v12) producing a 10-deep ADC
    // shortlist over 2 probed cells, exact cosine re-ranked to top-3 over
    // only the shortlisted rows (as x_v10). Quantized recall, exact
    // precision, zero retraining at query time.
    "x_v13_index_rerank" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val (model, codes) = VectorOps.ivfPqTrain(
        e, nCells = 8, dim = 64, m = 4, ks = 8,
        coarseIterations = 2, pqIterations = 2, trainModulus = 4)
      val idx = IndexDir.of(dir, "v13")
      VectorIndex.save(model, codes, idx)
      FixtureCleanup.registerTree(new java.io.File(idx))
      val (loaded, loadedCodes) = VectorIndex.load(s, idx)
      VectorOps.ivfPqSearchRerank(
        loaded, loadedCodes, e, queryIds = (0L until 10L).toSeq,
        k = 3, shortlist = 10, nProbe = 2)
    },
    // V14 — the SERVING path in isolation: the same persisted-index
    // shortlist + exact re-rank as x_v13, but against a memoized index
    // (trained+saved once per process, like the S1Feed capture fixtures) so
    // the measured surface is load + 2-cell ADC shortlist + re-rank ONLY —
    // the per-query cost a 100 TB operator actually serves, with training
    // amortized offline where it belongs. Hash-matches x_v13's oracle.
    "x_v14_index_serve" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val (loaded, loadedCodes) = VectorIndex.load(s, ServeIndex.of(s, dir))
      VectorOps.ivfPqSearchRerank(
        loaded, loadedCodes, e, queryIds = (0L until 10L).toSeq,
        k = 3, shortlist = 10, nProbe = 2)
    },
    // V6 — multi-probe SRP near-dup: candidates within hamming<=1 of each
    // other's bucket (the SRP recall dial, complementing x_v5's IVF nProbe).
    "x_v6_ann_lsh_multiprobe" -> { (s, dir) =>
      VectorOps.nearDupLshMultiProbe(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding")),
        dim = 64, threshold = 0.35, nBits = 8)
    },
    // V15 — SEMANTIC dedup (SemDeDup-style), the modern training-data pass
    // this engine exists for: embedding near-dup PAIRS (x_v3's SRP-LSH
    // blocking — no all-pairs) → connected CLUSTERS (t10's bounded
    // min-label BSP) → keep ONE representative per cluster (the min id,
    // which IS the converged cluster label). Output: every corpus vector
    // with its cluster id and the keep decision — `filter(keep)` is the
    // deduplicated corpus. All three stages are the already-proven
    // scale shapes; the composition adds zero new shuffles beyond them.
    "v15_semantic_dedup" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val pairs = VectorOps.nearDupLsh(e, dim = 64, threshold = 0.35, nBits = 8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val labels = TextDedup.neardupClusters(pairs, iterations = 3)
        .withColumnRenamed("doc_id", "vec_id")
      e.select(col("id").as("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
        .withColumn("keep", col("cluster_id") === col("vec_id"))
    },
    // V2 — embedding-cosine near-dup pairs blocked by label.
    "v2_cosine_neardup" -> { (s, dir) =>
      VectorOps.nearDupPairs(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding"), col("label").as("block")),
        threshold = 0.35)
    },
    // V8 — per-dimension z-score standardization across the corpus (the
    // feature-scaling pass before quantization / clustering).
    "v8_embed_standardize" -> { (s, dir) =>
      VectorOps.perDimStandardize(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
    },
    // V7 — absmax int8 quantization + reconstruction error (the embedding
    // compression step before storage/serving). The operator returns the
    // real `array<long>` quantized vector; the DECLARED query canonicalizes
    // it to a CSV string + length because the driver's pandas checker cannot
    // sort array-typed columns (same trick as the decimal canonical strings
    // in c1/c2) — the array content is still fully hash-checked via the CSV.
    "v7_quantize_int8" -> { (s, dir) =>
      VectorOps.quantizeInt8(Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
        .select(
          col("vec_id"),
          col("scale"),
          // null elements render as a literal NULL token (concat_ws would
          // silently SKIP them, and DuckDB's array_to_string does the same —
          // both engines would agree on a csv that dropped data). A null here
          // can only come from a bug, so make it a visible hash mismatch.
          concat_ws(",", transform(col("q"), x => coalesce(x.cast("string"), lit("NULL"))))
            .as("q_csv"),
          size(col("q")).cast("long").as("q_len"),
          col("recon_mse"))
    }
  )

  /** DuckDB SQL for the SRP bucket id — the same md5-derived ±1 hyperplane
    * components as [[VectorOps.srpBucket]], inlined as literals (left-to-right
    * addition matches Spark's fold order, so the projection doubles are
    * bit-identical).
    */
  private def srpBucketSql(v: String, dim: Int, nBits: Int): String =
    (0 until nBits)
      .map { bit =>
        val proj = (0 until dim)
          .map(d => s"$v[${d + 1}] * ${VectorOps.srpSign(bit, d)}")
          .mkString(" + ")
        s"(CASE WHEN ($proj) > 0 THEN ${1L << bit} ELSE 0 END)"
      }
      .mkString(" + ")

  /** The corpus as e(id, v DOUBLE[]), the root CTE of the search oracles. */
  private val vectorsCte =
    """WITH e AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)""".stripMargin

  /** DuckDB d2 over `width` elements, the d2 kernel's left fold; with an
    * offset, the left side's element i is read at `off + i`.
    */
  private def d2Sql(v: String, c: String, width: Int, off: Option[Int] = None): String = {
    val at = off.fold("i")(o => s"$o + i")
    s"list_sum(list_transform(generate_series(1, $width), i -> ($v[$at] - $c[i]) * ($v[$at] - $c[i])))"
  }

  /** One quantizer level of the unrolled Lloyd oracles: the vector column its
    * CTEs carry, that vector's width, the names the update step gives the
    * element index and the mean, and the mean mode. The mean mirrors the
    * Spark side: the id-ordered sequential fold (`list_sum(list(x ORDER BY
    * id))` is a left fold, verified bit-identical to Spark's `aggregate`), or
    * the order-free fixed-point LONG sum (`floor(x·1e8 + 0.5)` — both
    * engines floor in double, sum as integers, divide back identically).
    */
  private case class Level(vec: String, width: Int, idx: String, mean: String, fixedPoint: Boolean)

  /** Per row of `from` (an `e` alias), its `keep` nearest centroids of
    * `cents`, ranked by (d2, cid) — the kernel's tie order. `rn = 1` is the
    * assignment step; `rn <= nProbe` the probe ranking.
    */
  private def nearestCte(
      lv: Level, name: String, from: String, cents: String,
      where: String = "", keep: String = "rn = 1"): String =
    s"""$name AS (
       |  SELECT id, ${lv.vec}, cid FROM (
       |    SELECT id, ${lv.vec}, cid, row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn FROM (
       |      SELECT e.id, e.${lv.vec}, c.cid, ${d2Sql(s"e.${lv.vec}", "c.c", lv.width)} AS d2
       |      FROM $from CROSS JOIN $cents c$where) dd) rr
       |  WHERE $keep)""".stripMargin

  /** The Lloyd update: each surviving cell's centroid, element by element,
    * as the level's mean over the cell's members in `assigned`.
    */
  private def updateCte(lv: Level, name: String, assigned: String): String = {
    val mean =
      if (lv.fixedPoint)
        "CAST(sum(CAST(floor(x * 100000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100000000.0 / count(*)"
      else "list_sum(list(x ORDER BY id)) / count(*)"
    s"""$name AS (
       |  SELECT cid, list(${lv.mean} ORDER BY ${lv.idx}) AS c FROM (
       |    SELECT cid, ${lv.idx}, $mean AS ${lv.mean} FROM (
       |      SELECT a.cid, a.id, g.i AS ${lv.idx}, a.${lv.vec}[g.i] AS x
       |      FROM $assigned a CROSS JOIN generate_series(1, ${lv.width}) g(i)) xx
       |    GROUP BY cid, ${lv.idx}) mm
       |  GROUP BY cid)""".stripMargin
  }

  /** The first-k seed: the k smallest ids of `src`, numbered 0..k-1 in id
    * order, with centroid `c` (an expression over the column `vec`).
    */
  private def seedCte(name: String, c: String, vec: String, src: String, k: Int): String =
    s"""$name AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, $c AS c
       |  FROM (SELECT id, $vec FROM $src ORDER BY id LIMIT $k) s0)""".stripMargin

  /** `iterations` assign→update rounds from the seed `${c}0`: assignments
    * `${a}i` of the rows of `from`, centroids `${c}i`.
    */
  private def lloydCtes(lv: Level, from: String, a: String, c: String, iterations: Int): String =
    (1 to iterations)
      .flatMap(i => Seq(
        nearestCte(lv, s"$a$i", from, s"$c${i - 1}"),
        updateCte(lv, s"$c$i", s"$a$i")))
      .mkString(",\n")

  /** The coarse level, the unroll of [[VectorOps.ivfAssign]]: seed `c0`,
    * `iterations` rounds, and the final assignment `af` of every row of e.
    */
  private def coarseCtes(lv: Level, k: Int, iterations: Int): String =
    Seq(
      seedCte("c0", "v", "v", "e", k),
      lloydCtes(lv, "e", "a", "c", iterations),
      nearestCte(lv, "af", "e", s"c$iterations")).mkString(",\n")

  /** qp: each query's `nProbe` nearest coarse cells. */
  private def probeCte(lv: Level, cents: String, nQueries: Int, nProbe: Int): String =
    nearestCte(lv, "qp", "e", cents, s" WHERE e.id < $nQueries", s"rn <= $nProbe")

  /** Each (id, v, cid) row of `src` minus its cell's centroid in `cents`,
    * element-wise (exact in both engines); `id` renames the id column.
    */
  private def residualCte(
      name: String, src: String, id: String, out: String, cents: String, dim: Int): String =
    s"""$name AS (
       |  SELECT $src.id$id, $src.cid,
       |    list_transform(generate_series(1, $dim), i -> $src.v[i] - c.c[i]) AS $out
       |  FROM $src JOIN $cents c USING (cid))""".stripMargin

  /** CTE name prefixes of one PQ unroll: slice table, training sample,
    * codebook, assignment (the encoding assignment is `${assign}f`).
    */
  private case class PqNames(slice: String, train: String, book: String, assign: String)

  /** The PQ level, the unroll of [[VectorOps.pqTrain]] plus the encode
    * pass, over the column `vec` of `src`: per subspace s, the sliced rows,
    * the first-ks seed, the rounds with the fixed-point mean, and the final
    * assignment of every row. Training reads the sampled slice table; the
    * encoding assignment reads the FULL one — mirroring Spark, where only
    * codebook training is sampled and every corpus row gets a code.
    */
  private def pqCtes(
      src: String, vec: String, n: PqNames, dim: Int, m: Int, ks: Int,
      iterations: Int, trainModulus: Int): String = {
    val sub = dim / m
    val lv = Level("vs", sub, "sd", "mn", fixedPoint = true)
    val trainWhere = if (trainModulus > 1) s" WHERE id % $trainModulus = 0" else ""
    (0 until m).map { s =>
      val slice = s"$vec[${s * sub + 1}:${(s + 1) * sub}]"
      Seq(
        s"${n.slice}$s AS (SELECT id, $slice AS vs FROM $src)",
        s"${n.train}$s AS (SELECT id, vs FROM ${n.slice}$s$trainWhere)",
        seedCte(s"${n.book}${s}_0", slice, vec, s"$src$trainWhere", ks),
        lloydCtes(lv, s"${n.train}$s e", s"${n.assign}${s}_", s"${n.book}${s}_", iterations),
        nearestCte(lv, s"${n.assign}f$s", s"${n.slice}$s e", s"${n.book}${s}_$iterations")
      ).mkString(",\n")
    }.mkString(",\n")
  }

  /** sims: each candidate in `codes` scored by ADC — the left-to-right sum
    * over subspaces of d2(query slice of `q`.`qv`, the codeword of its
    * code), Spark's ADC fold order. `book(s)` is subspace s's codebook,
    * joined as `${alias}s`; `join` brings in the queries.
    */
  private def adcSimsCte(
      q: String, qv: String, book: Int => String, alias: String, join: String,
      m: Int, sub: Int, nQueries: Int): String = {
    val codeJoin = (0 until m)
      .map(s => s"JOIN ${book(s)} $alias$s ON $alias$s.cid = x.k$s")
      .mkString("\n  ")
    val approx = (0 until m)
      .map(s => d2Sql(s"$q.$qv", s"$alias$s.c", sub, Some(s * sub)))
      .mkString(" + ")
    s"""sims AS (
       |  SELECT $q.query_id, x.id AS vec_id, round($approx, 6) + 0.0 AS approx_d2
       |  FROM codes x
       |  $codeJoin
       |  $join
       |  WHERE x.id >= $nQueries)""".stripMargin
  }

  /** Rank `from`'s (query_id, vec_id, score) rows per query by `order`,
    * ties to the smaller vec_id.
    */
  private def rankCte(name: String, score: String, order: String, from: String): String =
    s"""$name AS (
       |  SELECT query_id, vec_id, $score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY $order, vec_id) AS rank
       |  FROM $from)""".stripMargin

  /** The ADC ranking's answer: its top-k, or (rerankTo > 0) that shortlist
    * re-ranked by exact cosine. `queries` is the FROM item naming the query
    * vectors q(query_id, v); `extra` holds the CTEs it needs.
    */
  private def adcTail(
      ranked: String, topK: Int, rerankTo: Int, queries: String, extra: String = ""): String =
    if (rerankTo <= 0)
      s"""SELECT query_id, vec_id, approx_d2, CAST(rank AS BIGINT) AS rank
         |FROM $ranked WHERE rank <= $topK""".stripMargin
    else
      s""",sl AS (SELECT query_id, vec_id FROM $ranked WHERE rank <= $topK),
         |${extra}ex AS (
         |  SELECT sl.query_id, sl.vec_id, round(${duckCos("q.v", "c.v")}, 6) + 0.0 AS cos_sim
         |  FROM sl JOIN e c ON c.id = sl.vec_id JOIN $queries ON q.query_id = sl.query_id),
         |${rankCte("rr", "cos_sim", "cos_sim DESC", "ex")}
         |SELECT query_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
         |FROM rr WHERE rank <= $rerankTo""".stripMargin

  /** DuckDB unroll of [[VectorOps.ivfAssign]] + [[VectorOps.annTopKIvf]]:
    * same first-k seed, the same `iterations` assign→update rounds (the
    * mean as the Spark mode: `fixedPointMeans` is x_v4_fast's production
    * path), then the cell-probed top-k.
    */
  private def ivfOracleSql(
      k: Int, dim: Int, iterations: Int, nQueries: Int, topK: Int,
      nProbe: Int = 1, fixedPointMeans: Boolean = false): String = {
    val lv = Level("v", dim, "dim", "m", fixedPointMeans)
    s"""$vectorsCte,
       |${coarseCtes(lv, k, iterations)},
       |${probeCte(lv, s"c$iterations", nQueries, nProbe)},
       |q AS (SELECT id AS query_id, v AS qv, cid FROM qp),
       |cor AS (SELECT id AS vec_id, v AS cv, cid FROM af WHERE id >= $nQueries),
       |sims AS (
       |  SELECT q.query_id, cor.vec_id, round(${duckCos("q.qv", "cor.cv")}, 6) + 0.0 AS cos_sim
       |  FROM cor JOIN q USING (cid)),
       |${rankCte("r", "cos_sim", "cos_sim DESC", "sims")}
       |SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= $topK""".stripMargin
  }

  /** DuckDB unroll of [[VectorOps.pqTrain]] + [[VectorOps.annTopKPq]]: the
    * PQ level over the corpus, the m-way code join, and each corpus row's
    * approx d2 as the SAME left-to-right sum of per-subspace d2 folds Spark
    * computes through its ADC tables.
    */
  private def pqOracleSql(
      dim: Int, m: Int, ks: Int, iterations: Int, nQueries: Int, topK: Int,
      trainModulus: Int = 1, rerankTo: Int = 0): String = {
    val pq = pqCtes(
      "e", "v", PqNames("e", "et", "c", "a"), dim, m, ks, iterations, trainModulus)
    val sims = adcSimsCte(
      "q", "v", s => s"c${s}_$iterations", "c", "CROSS JOIN q", m, dim / m, nQueries)
    s"""$vectorsCte,
       |$pq,
       |codes AS (
       |  SELECT af0.id, ${(0 until m).map(s => s"af$s.cid AS k$s").mkString(", ")}
       |  FROM af0 ${(1 until m).map(s => s"JOIN af$s USING (id)").mkString(" ")}),
       |q AS (SELECT id AS query_id, v FROM e WHERE id < $nQueries),
       |$sims,
       |${rankCte("r", "approx_d2", "approx_d2", "sims")}
       |${adcTail("r", topK, rerankTo, "q")}""".stripMargin
  }

  /** DuckDB unroll of [[VectorOps.annTopKIvfPq]] — the two quantization
    * levels composed: the fixed-point coarse level, a residual CTE (v −
    * own-cell centroid), the PQ level re-rooted at the residuals, and an
    * ADC scoring join where each query's distance table comes from its
    * residual against the PROBED cell (qv − that cell's centroid) — the
    * IVFADC estimator. All arithmetic is the same left-to-right double
    * folds / exact integer sums as the Spark side, so the final ranking
    * hash-matches.
    */
  private def ivfPqOracleSql(
      nCells: Int, dim: Int, m: Int, ks: Int, coarseIterations: Int,
      pqIterations: Int, nQueries: Int, topK: Int, nProbe: Int,
      trainModulus: Int, rerankTo: Int = 0): String = {
    val coarse = Level("v", dim, "dim", "m", fixedPoint = true)
    val cFinal = s"c$coarseIterations"
    val pq = pqCtes(
      "r", "rv", PqNames("rs", "rt", "cb", "pa"), dim, m, ks, pqIterations, trainModulus)
    val sims = adcSimsCte(
      "qr", "qrv", s => s"cb${s}_$pqIterations", "b", "JOIN qr ON qr.cid = x.cid",
      m, dim / m, nQueries)
    val exq = s"exq AS (SELECT id AS query_id, v FROM e WHERE id < $nQueries),\n"
    s"""$vectorsCte,
       |${coarseCtes(coarse, nCells, coarseIterations)},
       |${residualCte("r", "af", "", "rv", cFinal, dim)},
       |$pq,
       |codes AS (
       |  SELECT paf0.id, r.cid, ${(0 until m).map(s => s"paf$s.cid AS k$s").mkString(", ")}
       |  FROM paf0 ${(1 until m).map(s => s"JOIN paf$s ON paf$s.id = paf0.id").mkString(" ")}
       |  JOIN r ON r.id = paf0.id),
       |${probeCte(coarse, cFinal, nQueries, nProbe)},
       |${residualCte("qr", "qp", " AS query_id", "qrv", cFinal, dim)},
       |$sims,
       |${rankCte("rk", "approx_d2", "approx_d2", "sims")}
       |${adcTail("rk", topK, rerankTo, "exq q", exq)}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "x_v11_ivfpq" -> ivfPqOracleSql(
      nCells = 8, dim = 64, m = 4, ks = 8, coarseIterations = 2,
      pqIterations = 2, nQueries = 10, topK = 3, nProbe = 2,
      trainModulus = 4),
    // Same oracle as x_v11 BY DESIGN: the save/load round-trip must be
    // lossless, so the persisted-index search has the same answer.
    "x_v12_ivfpq_index" -> ivfPqOracleSql(
      nCells = 8, dim = 64, m = 4, ks = 8, coarseIterations = 2,
      pqIterations = 2, nQueries = 10, topK = 3, nProbe = 2,
      trainModulus = 4),
    "x_v13_index_rerank" -> ivfPqOracleSql(
      nCells = 8, dim = 64, m = 4, ks = 8, coarseIterations = 2,
      pqIterations = 2, nQueries = 10, topK = 10, nProbe = 2,
      trainModulus = 4, rerankTo = 3),
    // Same oracle as x_v13 BY DESIGN: memoizing the trained index changes
    // when training runs, not what the search answers.
    "x_v14_index_serve" -> ivfPqOracleSql(
      nCells = 8, dim = 64, m = 4, ks = 8, coarseIterations = 2,
      pqIterations = 2, nQueries = 10, topK = 10, nProbe = 2,
      trainModulus = 4, rerankTo = 3),
    "x_v9_pq_adc" -> pqOracleSql(
      dim = 64, m = 4, ks = 8, iterations = 2, nQueries = 10, topK = 3,
      trainModulus = 4),
    "x_v10_pq_rerank" -> pqOracleSql(
      dim = 64, m = 4, ks = 8, iterations = 2, nQueries = 10, topK = 10,
      trainModulus = 4, rerankTo = 3),
    "x_v3_ann_lsh_neardup" -> {
      val cos = duckCos("a.v", "b.v")
      s"""$vectorsCte,
         |bk AS (SELECT id, v, CAST(${srpBucketSql("v", 64, 8)} AS BIGINT) AS block FROM e)
         |SELECT a.block, a.id AS id_a, b.id AS id_b, round($cos, 6) + 0.0 AS cos_sim
         |FROM bk a JOIN bk b ON a.block = b.block AND a.id < b.id
         |WHERE round($cos, 6) >= 0.35""".stripMargin
    },
    // x_v3's pair CTEs composed with t10's 3-round min-label propagation —
    // the same bounded-BSP unroll, over embedding-space edges.
    "v15_semantic_dedup" -> {
      val cos = duckCos("a.v", "b.v")
      val rounds = (1 to 3).map { j =>
        s"""l$j AS (
           |  SELECT doc_id, min(cluster_id) AS cluster_id FROM (
           |    SELECT doc_id, cluster_id FROM l${j - 1}
           |    UNION ALL
           |    SELECT ed.src AS doc_id, l.cluster_id
           |    FROM edges ed JOIN l${j - 1} l ON l.doc_id = ed.dst)
           |  GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      s"""$vectorsCte,
         |bk AS (SELECT id, v, CAST(${srpBucketSql("v", 64, 8)} AS BIGINT) AS block FROM e),
         |pairs AS (
         |  SELECT a.id AS doc_a, b.id AS doc_b
         |  FROM bk a JOIN bk b ON a.block = b.block AND a.id < b.id
         |  WHERE round($cos, 6) >= 0.35),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS doc_id, src AS cluster_id FROM edges),
         |$rounds
         |SELECT e.id AS vec_id,
         |  coalesce(l3.cluster_id, e.id) AS cluster_id,
         |  coalesce(l3.cluster_id, e.id) = e.id AS keep
         |FROM e LEFT JOIN l3 ON l3.doc_id = e.id""".stripMargin
    },
    "x_v6_ann_lsh_multiprobe" -> {
      val cos = duckCos("a.v", "b.v")
      s"""$vectorsCte,
         |bk AS (SELECT id, v, CAST(${srpBucketSql("v", 64, 8)} AS BIGINT) AS b0 FROM e),
         |flips AS (
         |  SELECT CAST(0 AS BIGINT) AS f
         |  UNION ALL SELECT CAST(1 AS BIGINT) << j FROM generate_series(0, 7) g(j)),
         |pr AS (SELECT id, v, b0, xor(b0, f) AS block FROM bk CROSS JOIN flips)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.b0, b.b0)) AS INT) AS hamming,
         |  round($cos, 6) + 0.0 AS cos_sim
         |FROM bk a JOIN pr b ON a.b0 = b.block AND a.id < b.id
         |WHERE round($cos, 6) >= 0.35""".stripMargin
    },
    "x_v4_ann_ivf" -> ivfOracleSql(k = 8, dim = 64, iterations = 3, nQueries = 10, topK = 3),
    "x_v4_fast" -> ivfOracleSql(
      k = 8, dim = 64, iterations = 3, nQueries = 10, topK = 3, fixedPointMeans = true),
    "x_v5_ann_ivf_probe2" ->
      ivfOracleSql(k = 8, dim = 64, iterations = 3, nQueries = 10, topK = 3, nProbe = 2),
    "v1_ann_topk" -> {
      val cos = duckCos("q.v", "c.v")
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
         |sims AS (
         |  SELECT q.query_id, c.vec_id, round($cos, 6) + 0.0 AS cos_sim
         |  FROM c CROSS JOIN q),
         |${rankCte("r", "cos_sim", "cos_sim DESC", "sims")}
         |SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= 3""".stripMargin
    },
    "v2_cosine_neardup" -> {
      val cos = duckCos("a.v", "b.v")
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
         |  round($cos, 6) + 0.0 AS cos_sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round($cos, 6) >= 0.35""".stripMargin
    },
    "v8_embed_standardize" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |ex AS (
        |  SELECT vec_id, g.i - 1 AS dim, v[g.i] AS x
        |  FROM e CROSS JOIN generate_series(1, 64) g(i)),
        |st AS (
        |  SELECT dim, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM ex GROUP BY dim),
        |m AS (
        |  SELECT dim, sx / n AS mean,
        |    nullif(sqrt(greatest((sxx - sx * sx / n) / n, 0.0)), 0.0) AS sd
        |  FROM st)
        |SELECT vec_id, dim, round((x - mean) / sd, 6) + 0.0 AS x_norm
        |FROM ex JOIN m USING (dim)""".stripMargin,
    "v7_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
        |  FROM e)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)), ',') AS q_csv,
        |  CAST(len(v) AS BIGINT) AS q_len,
        |  round(list_sum(list_transform(v,
        |      x -> (x - floor(x / scale + 0.5) * scale) * (x - floor(x / scale + 0.5) * scale)))
        |    / len(v), 12) + 0.0 AS recon_mse
        |FROM s""".stripMargin
  )
}
