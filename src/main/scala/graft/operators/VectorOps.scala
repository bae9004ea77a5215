package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.Num.nz
import graft.functions.TextFunctions.md5PrefixHash
import graft.functions.VectorKernels

/** Similarity search over embedding columns (`Array[Float]`) — scale
  * EXTENSION per BASELINE.json's north star; no reference counterpart.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus; one pass, no shuffle of the corpus, rank per query.
  * Scale path: sign-random-projection LSH buckets (deterministic
  * pseudo-random hyperplanes) so candidate generation becomes an equi-join
  * on bucket id, exactly like the text LSH. Dot products run as higher-order
  * array folds inside codegen — no UDF.
  */
object VectorOps {

  /** Sequential-fold dot product of two double arrays (deterministic order:
    * left-to-right, matching DuckDB's list accumulation). Runs as the
    * kernel [[graft.functions.VectorKernels.dot]] — the builtin
    * `aggregate(zip_with(...))` fold evaluates its lambda interpreted per
    * element, which dominated the blocked near-dup queries.
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VectorKernels.dotCall(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared euclidean distance as the kernel
    * [[graft.functions.VectorKernels.d2]] — same left-to-right fold
    * (bit-identical to the `aggregate(zip_with(...))` form it replaced and
    * to the unrolled DuckDB oracle). The IVF assignment evaluates this
    * (rows × centroids × rounds) times; the interpreted HOF lambda was the
    * dominant cost of the IVF queries.
    */
  def d2(a: Column, b: Column): Column =
    ColumnBridge.column(
      VectorKernels.d2Call(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Fused IVFADC estimator ([[graft.functions.VectorKernels.adcSum]]):
    * Σ_s tables[s][codes[s]] as ONE static call per candidate pair —
    * replaces the m-deep `element_at(element_at(...))` chain whose nested
    * generic map probes dominated the PQ search inner loop. Same subspace
    * add order, bit-identical result (oracle-gated).
    */
  private def adcSum(tables: Column, codes: Column): Column =
    ColumnBridge.column(
      VectorKernels.adcSumCall(ColumnBridge.expression(tables), ColumnBridge.expression(codes)))

  /** sqrt of the self-dot — the same `acc + x*x` fold order as the previous
    * `aggregate` form, so norms are bit-identical.
    */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  private def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** The (id, v) rows every trained or re-ranked path reads: the embedding
    * as doubles, minus the rows whose embedding is null or holds a null
    * element. Such a row would otherwise seed a null centroid, or score a
    * null distance that ranks first. The guard is the codegen dot kernel:
    * dot(v, v) is null exactly then (a wrong-width vector passes it).
    * Brute force ([[annTopK]], [[nearDupPairs]]) reads no such filter: there
    * a dirty row scores a null cosine.
    */
  private def vectors(vecs: DataFrame): DataFrame = // id, embedding
    vecs.select(col("id"), asDouble(col("embedding")).as("v"))
      .filter(dot(col("v"), col("v")).isNotNull)

  /** Cosine from precomputed norms, ROUNDED to 6 dp so rank order and
    * thresholds are stable under sub-ulp engine differences.
    */
  private def roundedCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    nz(round(dot(a, b) / (na * nb), 6))

  /** The k best pairs per query_id by `order`, ties to the smaller vec_id:
    * (query_id, vec_id, score, rank). Every top-k search ends here.
    */
  private def topK(scored: DataFrame, score: String, order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", score, "rank")
  }

  /** Top-k by rounded cosine of pairs carrying a query (qv, qn) and a corpus
    * row (cv, cn) with their norms.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(
      pairs.withColumn("cos_sim", roundedCosine(col("qv"), col("cv"), col("qn"), col("cn"))),
      "cos_sim", col("cos_sim").desc, k)

  /** Top-k by rounded ADC distance of pairs carrying a query's tables (tbl)
    * and a corpus row's PQ codes. The fused kernel keeps the left subspace
    * fold (t0 + t1 + …, the oracle's order), one call per pair.
    */
  private def adcTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(
      pairs.withColumn("approx_d2", round(adcSum(col("tbl"), col("codes")), 6)),
      "approx_d2", col("approx_d2"), k)

  /** Brute-force cosine top-k: for each row of `queries`, the k most similar
    * corpus rows. Rank orders by the ROUNDED similarity (6 dp) then corpus
    * id, so results are stable under sub-ulp engine differences.
    */
  def annTopK(
      queries: DataFrame, // query_id, embedding
      corpus: DataFrame, // vec_id, embedding
      k: Int): DataFrame = {
    // Norms are per-vector, so compute them once per side instead of per
    // pair (cuts the array folds per pair from 3 to 1).
    val q = queries.select(
      col("query_id"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    cosineTopK(c.crossJoin(broadcast(q)), k)
  }

  /** Cosine near-dup pairs within a blocking key (e.g. a cluster/label or an
    * LSH bucket): all pairs (a < b) with rounded cosine >= threshold.
    */
  def nearDupPairs(
      vecs: DataFrame, // id, embedding, block
      threshold: Double): DataFrame = {
    val a = vecs.select(col("block"), col("id").as("id_a"), asDouble(col("embedding")).as("va"))
      .withColumn("na", l2Norm(col("va")))
    val b = vecs.select(col("block"), col("id").as("id_b"), asDouble(col("embedding")).as("vb"))
      .withColumn("nb", l2Norm(col("vb")))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", roundedCosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("block", "id_a", "id_b", "cos_sim")
  }

  /** The ±1 hyperplane component for (bit, dim): deterministic pseudo-random
    * from md5, shared by the Spark plan and the generated oracle SQL so both
    * engines bucket identically.
    */
  def srpSign(bit: Int, d: Int): Double =
    if (java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"srp_${bit}_$d".getBytes("UTF-8"))(0) % 2 == 0) 1.0
    else -1.0

  /** Sign-random-projection bucket id: `nBits` hyperplanes whose components
    * are deterministic pseudo-random ±1 derived from md5 of (bit, dim) — so
    * the bucketing is reproducible anywhere. Vectors in the same bucket are
    * near-dup candidates; at 100 TB candidate generation is an equi-join on
    * (bucket), replacing the per-block quadratic scan. Each projection runs
    * through the codegen dot kernel (same multiply-then-left-fold double
    * arithmetic as the interpreted `aggregate(zip_with(...))` form and the
    * generated oracle SQL's explicit term sum, but ~512 boxed lambda calls
    * per row cheaper); a null/length-mismatched vector yields a null dot →
    * every bit contributes 0, same as zip_with null propagation did.
    */
  def srpBucket(embedding: Column, dim: Int, nBits: Int = 12): Column = {
    val v = asDouble(embedding)
    (0 until nBits)
      .map { bit =>
        val signs = typedLit((0 until dim).map(d => srpSign(bit, d)))
        when(dot(v, signs) > 0, lit(1L << bit)).otherwise(lit(0L))
      }
      .reduce(_ + _)
  }

  /** A codebook: (cid, centroid) rows, cid-ascending. */
  private type Book = Seq[(Int, Seq[Double])]

  /** The nearest-centroid id as a per-row scalar expression — the fused
    * argmin kernel [[graft.functions.VectorKernels.nearestCid]]: the
    * centroid table rides along as a plan reference object (flat codegen
    * size in k) and each row runs one early-exit loop that abandons a
    * candidate the moment its partial d2 reaches the current best. Selects
    * the identical cid as ranking rank-1 by (d2, cid) — min d2, ties to the
    * smaller cid (the kernel's `>=` prune + cid-ascending iteration; see
    * its scaladoc for the proof) — with zero joins, zero shuffles, at any k.
    */
  private[graft] def nearestCidExpr(v: Column, cents: Book): Column = {
    val sorted = cents.sortBy(_._1)
    ColumnBridge.column(VectorKernels.nearestCidCall(
      ColumnBridge.expression(v), sorted.map(_._1), sorted.map(_._2)))
  }

  /** Contiguous `sub`-wide slices of `x`: the m subspaces of PQ. */
  private def slices(x: Column, m: Int, sub: Int): Seq[Column] =
    (0 until m).map(s => slice(x, s * sub + 1, sub))

  /** The code of a vector cut into `parts`: per part, the cid of the nearest
    * codeword in that part's book.
    */
  private def encode(parts: Seq[Column], books: Seq[Book]): Column =
    array(parts.zip(books).map { case (p, b) => nearestCidExpr(p, b) }: _*)

  /** The ADC tables of the vector `q`: per subspace, a cid→d2 map from q's
    * slice to every codeword of that subspace's book. Maps, not positional
    * arrays: a codebook that lost a cell to an empty-cluster round has
    * non-contiguous cids, so position indexing would silently misalign
    * codes with table entries.
    */
  private def adcTables(q: Column, books: Seq[Book], sub: Int): Column =
    array(slices(q, books.size, sub).zip(books).map { case (p, b) =>
      map_from_arrays(typedLit(b.map(_._1)), transform(typedLit(b.map(_._2)), c => d2(p, c)))
    }: _*)

  /** The k-row centroid state as a broadcastable local DataFrame (cid, c). */
  private[graft] def centroidDf(spark: SparkSession, cents: Book): DataFrame = {
    val schema = StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("c", ArrayType(DoubleType), nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(cents.map { case (cid, c) => Row(cid, c) }: _*), schema)
  }

  /** A cell mean as the sequential fold in id order (sorted `collect_list`
    * + `aggregate`): bit-identical to the oracle's unrolled DuckDB left fold,
    * but the whole cell's values cross the shuffle as a list per (cell,
    * element) — O(rows × dims) shuffle volume.
    */
  private def orderedMean: Column =
    aggregate(
      transform(array_sort(collect_list(struct(col("id"), col("x")))), e => e.getField("x")),
      lit(0.0), (a, x) => a + x) / count(lit(1))

  /** A cell mean from fixed-point LONG sums, the production dial: values
    * quantize by `floor(x·1e8 + 0.5)` (the engine-portable rounding
    * quantizeInt8 uses) and accumulate as LONG sums. Integer addition is
    * exact, so associative and merge-order-free (a double `avg()` merges
    * partial sums in shuffle-arrival order, which is run- and
    * engine-dependent, and a low-bit difference in a centroid can flip a
    * nearest-cell assignment), and it is a codegen-primitive aggregate (a
    * DECIMAL accumulator was measured ~0.5 s slower at sf0.1 than the exact
    * fold it was supposed to beat). Map-side partials keep shuffle volume
    * O(cells × dims). The cast to long BEFORE the sum is load-bearing:
    * floor() returns DOUBLE, and a double sum is only exact to 2^53 — the
    * cast makes it a true LONG sum (exact to 2^63, like the oracle's
    * CAST(... AS BIGINT)). Overflow headroom: |x|·1e8·rowsPerCell must stay
    * below 2^63 — ~9e10 rows per (cell, element) for unit-scale embeddings.
    */
  private def fixedPointMean: Column =
    sum(floor(col("x") * lit(1e8) + lit(0.5)).cast("long")).cast("double") / lit(1e8) /
      count(lit(1))

  /** Deterministic Lloyd k-means over the (id, v) rows, one book per part
    * that `split` cuts a vector into (IVF: the whole vector; PQ: m
    * subspaces): seeded by the k smallest ids, numbered 0..k-1 in id order;
    * a fixed number of rounds; assignment by the (d2, cid) argmin kernel;
    * each (cell, element) updated by `mean` over its (id, x) rows. Every
    * part is as wide as the first seed's, so element d lies in part
    * d / width. A cell that loses every member disappears (matching the
    * oracle's GROUP BY), so later rounds score fewer candidates.
    *
    * Scale shape: all parts train in the SAME per-round job, and the round
    * is ONE exchange (the per-(cell, element) means). The codes are
    * computed below the explode, once per row. The means are bounded by
    * k·dim rows, so the per-cell arrays are assembled on the driver, in
    * element order — the doubles a second groupBy exchange would give.
    */
  private def lloyd(
      v: DataFrame, // id, v
      split: Column => Seq[Column],
      k: Int,
      iterations: Int,
      mean: Column): IndexedSeq[Book] = {
    val seeds = v.orderBy("id").limit(k).select(split(col("v")): _*).collect().toSeq
    require(seeds.nonEmpty, "no vector without nulls to seed the k-means from")
    val m = seeds.head.length
    val width = seeds.head.getSeq[Double](0).size
    var books = (0 until m).map(s =>
      seeds.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](s)) })
    // one part: a literal index, not a per-element division (the division
    // measured 5-14 % of an IVF round at sf0.1)
    val part = if (m == 1) lit(0) else (col("d") / lit(width)).cast("int")
    for (_ <- 0 until iterations) {
      val means = v
        .select(col("id"), col("v"), encode(split(col("v")), books).as("cids"))
        .select(col("id"), col("cids"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(element_at(col("cids"), part + 1).as("cid"), col("d"))
        .agg(mean.as("mn"))
        .collect()
      books = (0 until m).map(s =>
        means.filter(_.getInt(1) / width == s)
          .groupBy(_.getInt(0))
          .map { case (cid, rs) =>
            (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq: Seq[Double])
          }
          .toSeq.sortBy(_._1))
    }
    books
  }

  /** IVF (inverted-file) index: deterministic Lloyd k-means ([[lloyd]] over
    * the whole vector: first-k seed in id order, fixed iteration count —
    * reproducible anywhere), assigning every vector to its nearest centroid.
    * Queries probe only their own cell (`nProbe=1` semantics), turning top-k
    * search into a per-cell scan — the classic recall/throughput dial for
    * ANN at corpus scale.
    *
    * Centroid state is k tiny vectors, so it lives on the DRIVER between
    * iterations; assignment is a zero-shuffle scalar expression over the
    * corpus ([[nearestCidExpr]]), so each round costs ONE shuffle (the mean
    * update) — no crossJoin, no per-id ranking, no per-iteration caches to
    * manage or leak.
    *
    * Both mean modes are order-independent and therefore
    * oracle-reproducible: `exactMeans = true` is [[orderedMean]],
    * `exactMeans = false` the production [[fixedPointMean]]. The latter
    * differs from the exact fold only by the 1e-8 per-element quantization;
    * recall equivalence against the exact path is spec-asserted on top of
    * its own unrolled oracle.
    */
  def ivfAssign(
      vecs: DataFrame, // id, embedding
      k: Int,
      iterations: Int = 3,
      exactMeans: Boolean = true): (DataFrame, DataFrame) = {
    // Materialized once (r18, guide §5 — the t21/ivfPqTrain rule applied to
    // the Lloyd loop itself): the filtered corpus is consumed by the seed
    // job, every iteration's mean job, and the final assignment — each used
    // to re-scan the source and re-run the null-guard filter. The cache is
    // the narrow (id, v) projection, created lazily INSIDE the query
    // (ContextCleaner-reclaimed, nothing outlives it), so a cold timed pass
    // still pays the first scan.
    val v = Materialize.cached(vectors(vecs), eager = false)
    val mean = if (exactMeans) orderedMean else fixedPointMean
    val cents = lloyd(v, Seq(_), k, iterations, mean).head
    (v.withColumn("cid", nearestCidExpr(col("v"), cents)), centroidDf(vecs.sparkSession, cents))
  }

  /** Each row of `v` paired with its `n` nearest centroids (rank 1..n by
    * (distance, cid)).
    */
  private[graft] def rankedCells(v: DataFrame, centroids: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("__d2"), col("cid"))
    v.crossJoin(broadcast(centroids))
      .withColumn("__d2", d2(col("v"), col("c")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(col("id"), col("v"), col("cid"))
  }

  /** IVF top-k: each query searches its `nProbe` nearest cells (corpus rows
    * live in exactly one cell, so probing more cells raises recall with cost
    * ∝ nProbe/nCells of the corpus — the classic IVF recall/throughput dial).
    */
  def annTopKIvf(
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int,
      nCells: Int,
      iterations: Int = 3,
      nProbe: Int = 1,
      exactMeans: Boolean = true): DataFrame = {
    val (assigned, centroids) = ivfAssign(vecs, nCells, iterations, exactMeans)
    val queries = rankedCells(
      assigned.filter(col("id").isin(queryIds: _*)).select(col("id"), col("v")),
      centroids, nProbe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("cid"))
      .withColumn("qn", l2Norm(col("qv")))
    val corpus = assigned
      .filter(!col("id").isin(queryIds: _*))
      .select(col("id").as("vec_id"), col("v").as("cv"), col("cid"))
      .withColumn("cn", l2Norm(col("cv")))
    cosineTopK(corpus.join(broadcast(queries), Seq("cid")), k)
  }

  /** Product-quantization codebooks — the compression half of IVF-PQ, the
    * standard billion-vector ANN layout (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011). The vector splits into `m`
    * contiguous subspaces of dim/m dims; each subspace trains its OWN
    * ks-centroid codebook, all m in the same per-round job of [[lloyd]] —
    * the IVF loop with m parts — under the order-free [[fixedPointMean]], so
    * the whole training run is reproducible under any partitioning and
    * carries a full unrolled DuckDB oracle. The mean update's map-side
    * partials keep shuffle volume O(m·ks·(dim/m)) = O(ks·dim) regardless of
    * corpus size; driver state is m·ks subvectors (~codebook kilobytes).
    *
    * Dirty-null guard as in [[ivfAssign]] ([[vectors]]).
    */
  def pqTrain(
      vecs: DataFrame, // id, embedding
      dim: Int,
      m: Int,
      ks: Int,
      iterations: Int = 2,
      trainModulus: Int = 1): IndexedSeq[Seq[(Int, Seq[Double])]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    require(trainModulus >= 1, s"trainModulus must be >= 1, got $trainModulus")
    // Codebooks train on a deterministic 1/trainModulus corpus sample
    // (id % trainModulus == 0 — engine-portable, unlike hash sampling): the
    // standard PQ practice (FAISS trains on a bounded sample) and the scale
    // lever that keeps every training round O(sample) while the encode pass
    // stays the only full-corpus job.
    // Materialized once (r18): the training sample feeds the seed job plus
    // every codebook round — same in-query cache rationale as ivfAssign's.
    val v = Materialize.cached(
      vectors(vecs).filter(col("id") % trainModulus === 0), eager = false)
    lloyd(v, slices(_, m, dim / m), ks, iterations, fixedPointMean)
  }

  /** PQ/ADC top-k: corpus rows carry only their m-code PQ encoding; each
    * query precomputes a per-subspace ADC table (d2 from its subvector to
    * every codebook entry, a cid→d2 map of m·ks doubles), so the scored
    * join reads NO corpus floats — approx distance is m map lookups + adds
    * per pair. That is the memory-bound shape that makes PQ the
    * billion-vector layout: a 64-dim float corpus shrinks 64× to m bytes a
    * row, and the only full-precision vectors at query time are the handful
    * of broadcast queries. Deterministic end-to-end (training via
    * [[pqTrain]], rounded approx_d2, (approx_d2, vec_id) rank order), so the
    * whole pipeline hash-matches its unrolled DuckDB oracle.
    */
  def annTopKPq(
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int,
      dim: Int,
      m: Int,
      ks: Int,
      iterations: Int = 2,
      trainModulus: Int = 1): DataFrame = {
    val sub = dim / m
    val books = pqTrain(vecs, dim, m, ks, iterations, trainModulus)
    val v = vectors(vecs)
    val corpus = v.filter(!col("id").isin(queryIds: _*))
      .select(col("id").as("vec_id"), encode(slices(col("v"), m, sub), books).as("codes"))
    val queries = v.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), adcTables(col("v"), books, sub).as("tbl"))
    adcTopK(corpus.crossJoin(broadcast(queries)), k)
  }

  /** Two-stage PQ retrieval — the standard production ANN pipeline: a cheap
    * ADC shortlist over codes ([[annTopKPq]], `shortlist` deep), then exact
    * cosine re-ranked to top-k over ONLY the shortlisted rows
    * ([[cosineRerank]]).
    */
  def annTopKPqRerank(
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int,
      shortlist: Int,
      dim: Int,
      m: Int,
      ks: Int,
      iterations: Int = 2,
      trainModulus: Int = 1): DataFrame = {
    val short = annTopKPq(vecs, queryIds, shortlist, dim, m, ks, iterations, trainModulus)
      .select(col("query_id"), col("vec_id"))
    cosineRerank(short, vecs, queryIds, k)
  }

  /** Exact cosine re-rank of an approximate shortlist — the precision stage
    * shared by every two-stage retrieval ([[annTopKPqRerank]],
    * [[ivfPqSearchRerank]]): full-precision vectors are touched for
    * queries·shortlist rows total, never the corpus — the equi-join back to
    * corpus floats broadcasts the tiny shortlist, so the corpus parquet is
    * scanned once with no shuffle. Quantization error caps recall
    * (shortlist membership) but never final ordering precision.
    */
  private def cosineRerank(
      short: DataFrame, // query_id, vec_id
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    val v = vectors(vecs)
    val corpus = v.select(col("id").as("vec_id"), col("v").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val queries = v.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
    cosineTopK(
      corpus.join(broadcast(short), Seq("vec_id")).join(broadcast(queries), Seq("query_id")), k)
  }

  /** The complete production retrieval pipeline over a PERSISTED index:
    * ADC shortlist from the loaded IVF-PQ state ([[ivfPqSearch]],
    * `shortlist` deep over `nProbe` cells), then exact cosine re-ranked to
    * top-k over only the shortlisted rows ([[cosineRerank]]). Composes the
    * x_v12 lifecycle with the x_v10 precision stage.
    */
  def ivfPqSearchRerank(
      model: IvfPqModel,
      codes: DataFrame, // vec_id, cid, codes
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int,
      shortlist: Int,
      nProbe: Int = 1): DataFrame = {
    val short = ivfPqSearch(model, codes, vecs, queryIds, shortlist, nProbe)
      .select(col("query_id"), col("vec_id"))
    cosineRerank(short, vecs, queryIds, k)
  }

  /** IVF-PQ top-k — the full billion-vector ANN layout (Jégou et al. 2011,
    * the FAISS `IVFx,PQy` index): a coarse IVF quantizer partitions the
    * corpus into cells, PQ encodes each vector's RESIDUAL (v − centroid of
    * its cell), and a query probes its `nProbe` nearest cells scoring
    * candidates by ADC over a per-(query, cell) residual table. Residual
    * encoding is why the two levels compose: PQ spends its codebook
    * resolution on the within-cell displacement instead of re-describing the
    * cell position the coarse quantizer already captured.
    *
    * Scale shape: the corpus is touched by (a) the coarse Lloyd rounds —
    * one O(cells×dims) map-side-partial shuffle each ([[ivfAssign]]'s
    * fixed-point production path), (b) PQ training over a 1/trainModulus
    * residual sample ([[pqTrain]]), and (c) ONE encode pass that reduces
    * every row to (cid, m codes) — after which query-time cost is m map
    * lookups + adds per candidate in the probed cells only, reading no
    * corpus floats at all. Both training levels use order-free fixed-point
    * LONG sums, so the whole pipeline is deterministic under any
    * partitioning and carries a full unrolled DuckDB oracle.
    */
  def annTopKIvfPq(
      vecs: DataFrame, // id, embedding
      queryIds: Seq[Long],
      k: Int,
      nCells: Int,
      dim: Int,
      m: Int,
      ks: Int,
      coarseIterations: Int = 2,
      pqIterations: Int = 2,
      nProbe: Int = 1,
      trainModulus: Int = 1): DataFrame = {
    val (model, codes) =
      ivfPqTrain(vecs, nCells, dim, m, ks, coarseIterations, pqIterations, trainModulus)
    ivfPqSearch(model, codes, vecs, queryIds, k, nProbe)
  }

  /** The trained state of an IVF-PQ index — everything query-time scoring
    * needs besides the encoded corpus: coarse centroids (cid-ascending) and
    * the m per-subspace PQ codebooks. Driver-sized (nCells + m·ks small
    * vectors); the corpus-sized half of the index is the codes DataFrame
    * that travels next to it. Persistable via
    * [[VectorIndex.save]]/[[VectorIndex.load]] — parquet round-trips
    * doubles bit-exactly, so a loaded index searches IDENTICALLY to the
    * just-trained one (oracle-asserted by x_v12).
    */
  case class IvfPqModel(
      nCells: Int,
      dim: Int,
      m: Int,
      ks: Int,
      cents: Seq[(Int, Seq[Double])],
      books: IndexedSeq[Seq[(Int, Seq[Double])]])

  /** (id, cid, rv): each (id, v, cid) row's residual against its OWN cell's
    * centroid — element-wise double subtraction (exact, order-free) through
    * a broadcast join with the k-row centroid table, which drops a row whose
    * cid is null.
    */
  private def residuals(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned.join(broadcast(centroids), Seq("cid"))
      .select(col("id"), col("cid"), zip_with(col("v"), col("c"), (a, b) => a - b).as("rv"))

  /** The encoded corpus (vec_id, cid, codes): every residual row reduced to
    * its cell and m PQ codes.
    */
  private def residualCodes(res: DataFrame, books: Seq[Book], sub: Int): DataFrame =
    res.select(
      col("id").as("vec_id"), col("cid"),
      encode(slices(col("rv"), books.size, sub), books).as("codes"))

  /** Train the two quantizer levels and encode the corpus ONCE — the
    * index-build half of the production ANN lifecycle (build offline,
    * persist, serve many searches). Every row is encoded (queries are not
    * special at build time; [[ivfPqSearch]] excludes them from candidacy).
    */
  def ivfPqTrain(
      vecs: DataFrame, // id, embedding
      nCells: Int,
      dim: Int,
      m: Int,
      ks: Int,
      coarseIterations: Int = 2,
      pqIterations: Int = 2,
      trainModulus: Int = 1): (IvfPqModel, DataFrame) = {
    val (assigned, centroids) = ivfAssign(vecs, nCells, coarseIterations, exactMeans = false)
    val cents = centroids.collect() // bounded: nCells rows (same as ivfAssign's per-round state)
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    // Materialized once — pqTrain fires pqIterations+1 actions and the
    // encode pass one more; without the stage each would recompute the
    // coarse assignment kernel + centroid join + subtraction over the whole
    // corpus (Materialize picks localCheckpoint / lineage-preserving RDD
    // cache per environment). Only (id, cid, rv) crosses the
    // materialization point.
    val res = Materialize.stage(residuals(assigned, centroids), checkpointDir = None, eager = false)
    val books = pqTrain(
      res.select(col("id"), col("rv").as("embedding")),
      dim, m, ks, pqIterations, trainModulus)
    (IvfPqModel(nCells, dim, m, ks, cents, books), residualCodes(res, books, dim / m))
  }

  /** Encode vectors with an EXISTING model — no training: coarse-assign to
    * the frozen centroids, residual against the own-cell centroid, PQ-code
    * with the frozen books. This is the INCREMENTAL INDEX growth path (new
    * corpus arrivals between retrains): by construction it produces the
    * exact codes [[ivfPqTrain]]'s own encode pass would — training state is
    * all in the model — so appending these codes to a persisted index is
    * indistinguishable from having trained with the rows present
    * (spec-asserted). Quantization error drifts only as far as the data
    * does; the retrain cadence is the operator's dial, as in any IVF-PQ
    * serving deployment.
    */
  def ivfPqEncode(model: IvfPqModel, vecs: DataFrame): DataFrame = {
    val assigned = vecs.select(col("id"), asDouble(col("embedding")).as("v"))
      .withColumn("cid", nearestCidExpr(col("v"), model.cents))
    residualCodes(
      residuals(assigned, centroidDf(vecs.sparkSession, model.cents)),
      model.books, model.dim / model.m)
  }

  /** Query-time half: each query probes its nProbe nearest cells; the ADC
    * table is built from the query's residual AGAINST THAT CELL (qv − cell
    * centroid), so a candidate's approx d2 decomposes as Σ_s d2(query
    * residual slice, codebook entry of its code) — the standard IVFADC
    * estimator. Reads NO corpus floats: candidates come from the encoded
    * `codes` table; only the broadcast query set touches full vectors.
    */
  def ivfPqSearch(
      model: IvfPqModel,
      codes: DataFrame, // vec_id, cid, codes
      vecs: DataFrame, // id, embedding (query vectors fetched from here)
      queryIds: Seq[Long],
      k: Int,
      nProbe: Int = 1): DataFrame = {
    val centroids = centroidDf(vecs.sparkSession, model.cents)
    // a query of another width has no distance to any cell: it gets no rows
    val qv = vectors(vecs).filter(col("id").isin(queryIds: _*) && size(col("v")) === model.dim)
    val queries = residuals(rankedCells(qv, centroids, nProbe), centroids)
      .select(
        col("id").as("query_id"), col("cid"),
        adcTables(col("rv"), model.books, model.dim / model.m).as("tbl"))
    adcTopK(codes.filter(!col("vec_id").isin(queryIds: _*)).join(broadcast(queries), Seq("cid")), k)
  }

  /** LSH-bucketed near-dup: block by SRP bucket, then exact cosine verify
    * within buckets. Trades recall (hamming-0 buckets only) for linear scale.
    */
  def nearDupLsh(
      vecs: DataFrame, // id, embedding
      dim: Int,
      threshold: Double,
      nBits: Int = 12): DataFrame =
    nearDupPairs(
      vecs.select(col("id"), col("embedding"), srpBucket(col("embedding"), dim, nBits).as("block")),
      threshold)

  /** Multi-probe SRP near-dup — the recall dial of the SRP family: pairs
    * whose buckets differ in at most ONE bit become candidates. The left
    * side keeps its home bucket; the right side is replicated into its home
    * bucket plus every 1-bit flip (nBits+1 rows), so a qualifying pair
    * matches exactly once (xor of the two home buckets is 0 or a single
    * power of two) — an equi-join, no distinct needed. Cost: (nBits+1)×
    * replication of one side; still linear in the corpus.
    */
  def nearDupLshMultiProbe(
      vecs: DataFrame, // id, embedding
      dim: Int,
      threshold: Double,
      nBits: Int = 12): DataFrame = {
    val withB = vecs
      .select(
        col("id"), asDouble(col("embedding")).as("v"),
        srpBucket(col("embedding"), dim, nBits).as("b0"))
      .withColumn("nrm", l2Norm(col("v")))
    val home = withB.select(
      col("b0").as("block"), col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("b0").as("ba"))
    val flips = array((lit(0L) +: (0 until nBits).map(j => lit(1L << j))): _*)
    val probes = withB
      .select(
        col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
        col("b0").as("bb"), explode(flips).as("flip"))
      .withColumn("block", col("bb").bitwiseXOR(col("flip")))
    home
      .join(probes, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("ba").bitwiseXOR(col("bb"))).cast("int"))
      .withColumn("cos_sim", roundedCosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "hamming", "cos_sim")
  }

  /** Symmetric absmax int8 quantization — the storage/serving compression
    * step of an embedding pipeline. Per-vector scale = absmax/127; values
    * quantize by the engine-portable `floor(x/scale + 0.5)` (plain IEEE ops,
    * no engine rounding-mode dependence) and the reconstruction MSE comes
    * from the same sequential index-ordered fold as the cosine kernels.
    * Per-row expressions only — zero shuffle at any corpus size.
    */
  def quantizeInt8(vecs: DataFrame, id: Column, vec: Column): DataFrame = {
    def quant(x: Column) = floor(x / col("scale") + 0.5)
    val absmax = array_max(transform(col("v"), x => abs(x)))
    vecs
      .select(id.as("vec_id"), asDouble(vec).as("v"))
      .withColumn("scale", when(absmax === 0d, lit(1.0)).otherwise(absmax / 127.0))
      .select(
        col("vec_id"),
        col("scale"),
        transform(col("v"), x => quant(x).cast("long")).as("q"),
        nz(round(
          aggregate(
            transform(col("v"), x => (x - quant(x) * col("scale")) * (x - quant(x) * col("scale"))),
            lit(0.0), (acc, x) => acc + x) / size(col("v")),
          12)).as("recon_mse"))
  }

  /** Per-dimension z-score standardization across the corpus — the feature
    * scaling pass before quantization / clustering. One explode + one
    * per-dim aggregate (64 groups — map-side partials make the shuffle k
    * rows per partition), stats broadcast back onto the exploded stream.
    * Sums accumulate in DECIMAL so the per-dim mean/std are order-independent
    * and cross-engine exact; mean/var derived in double with a fixed
    * operation order mirrored by the oracle SQL.
    */
  def perDimStandardize(vecs: DataFrame, id: Column, emb: Column): DataFrame = {
    val ex = vecs.select(
      id.as("vec_id"), posexplode(asDouble(emb)).as(Seq("dim", "x")))
    val st = ex
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,12)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("sxx"))
      .withColumn("mean", col("sx") / col("n"))
      // greatest(var, 0): decimal-cast rounding can push the power-sum
      // variance a sub-ulp below zero -> sqrt would be NaN. nullif(sd, 0):
      // a CONSTANT dimension has sd = 0, and engines disagree on x/0.0
      // (Spark null, DuckDB IEEE inf/nan) — nulling the sd makes x_norm
      // null for constant dims on BOTH engines (the oracle mirrors this).
      .withColumn(
        "sd",
        nullif(
          sqrt(greatest((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), lit(0.0))),
          lit(0.0)))
      .select("dim", "mean", "sd")
    ex.join(broadcast(st), "dim")
      .select(
        col("vec_id"), col("dim").cast("long").as("dim"),
        nz(round((col("x") - col("mean")) / col("sd"), 6)).as("x_norm"))
  }
}
