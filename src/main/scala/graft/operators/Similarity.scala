package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.core.Lineage

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine top-k is the exact baseline;
  * IVF (inverted-file) restricts each query to its nearest coarse
  * centroid's bucket — the 100 TB path: candidate set shrinks by the
  * number of buckets, and the join is a broadcast of the (small)
  * centroid table plus an equi-join on bucket id instead of a cross
  * join against the whole corpus.
  *
  * All vector math is double-precision fold expressions (codegen'd;
  * element order fixed → bit-stable across engines for the oracle).
  */
object Similarity {

  /** dot(a, b) in double precision — custom codegen'd Catalyst
    * expression (tight primitive loop; see plans.VectorExpressions). */
  def dotExpr(aCol: String, bCol: String): Column =
    graft.plans.VectorExpressions.dot(col(aCol), col(bCol))

  def normExpr(aCol: String): Column = sqrt(dotExpr(aCol, aCol))

  /** cosine(a, b) — one-pass custom expression (dot + both norms in a
    * single array traversal). Bit-identical to the fold formulation:
    * sequential element-order accumulation. */
  def cosineExpr(aCol: String, bCol: String): Column =
    graft.plans.VectorExpressions.cosine(col(aCol), col(bCol))

  /** Built-in higher-order-function formulation (kept as the reference
    * semantics twin for tests; ~10× slower than the custom expression). */
  def dotFoldExpr(aCol: String, bCol: String): Column =
    expr(s"""aggregate(zip_with($aCol, $bCol,
            | (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
            | CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)

  def cosineFoldExpr(aCol: String, bCol: String): Column =
    dotFoldExpr(aCol, bCol) / (sqrt(dotFoldExpr(aCol, aCol)) * sqrt(dotFoldExpr(bCol, bCol)))

  /** Exact brute-force cosine top-k: every query row against the full
    * corpus. Correctness baseline and small-corpus path; the corpus
    * side stays partitioned, queries are broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineExpr("qv", "cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Heap-based top-k: same results as [[bruteForceTopK]], different
    * physical shape — a bounded size-k aggregation buffer, so the
    * shuffle carries at most k candidates per partition per query
    * instead of the full scored cross product. The aggregate is a
    * native TypedImperativeAggregate over unsafe rows
    * (plans.TopKAggregate): no typed `.map` into case classes, so the
    * scoring side stays inside whole-stage codegen — the plan has no
    * DeserializeToObject/SerializeFromObject (PlanQualitySpec pins it). */
  def heapTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").as("id"), cosineExpr("qv", "cv").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.heapTopKAgg(col("id"), col("score"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("neighbor_id"), col("s.score").as("cosine"))
  }

  /** Deterministic coarse "training" stub: every strideth vector is a
    * centroid (id % stride == 0). A production pipeline would plug a
    * k-means fit here; the operator downstream is identical. */
  def strideCentroids(corpus: DataFrame, idCol: String, vecCol: String, stride: Int): DataFrame =
    corpus.filter(col(idCol) % stride === 0)
      .select((col(idCol) / stride).cast("long").as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Assign each vector to its max-cosine centroid (broadcast join +
    * window argmax; one shuffle on the corpus id). Keeps the winning
    * similarity as `sim` (quantization-quality observability). */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    ivfProbe(corpus, centroids, idCol, vecCol, nprobe = 1)

  /** Distributed SPHERICAL k-means refinement of the coarse quantizer:
    * stride init, then `iters` rounds of (broadcast argmax-cosine
    * assign → per-bucket mean of the UNIT-NORMALIZED members). The
    * normalized-mean update is what maximizes Σ cos(vᵢ, c) for a fixed
    * assignment (plain arithmetic means don't under cosine), so each
    * round is guaranteed not to decrease [[quantizationScore]] — the
    * invariant KMeansIvfSpec asserts. Per-round state is only the k×dim
    * centroid table (the MLlib-style broadcast-ML loop); no data-path
    * collect. Empty buckets drop out; centroids are emitted as the
    * corpus element type so the codegen'd cosine kernel sees matching
    * arrays (cosine is scale-invariant, so leaving the mean
    * un-renormalized is fine). */
  def kMeansFit(corpus: DataFrame, idCol: String, vecCol: String, stride: Int,
                iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.ArrayType
    val elemSql = corpus.schema(vecCol).dataType.asInstanceOf[ArrayType].elementType.sql
    var centroids = strideCentroids(corpus, idCol, vecCol, stride)
    for (_ <- 0 until iters) {
      centroids = ivfAssign(corpus, centroids, idCol, vecCol)
        .withColumn("__norm", normExpr(vecCol))
        .filter(col("__norm") > 0)
        .select(col("bucket").as("centroid_id"),
          posexplode(col(vecCol)).as(Seq("pos", "x")), col("__norm"))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("x") / col("__norm")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(expr(s"transform(array_sort(collect_list(struct(pos, m))), s -> CAST(s.m AS $elemSql))")
          .as("centroid_vec"))
    }
    // the k×dim centroid table is model state, not data — cut it to a
    // checkpoint leaf so consumers (count, corpus assign, query probe)
    // don't each re-run the whole Lloyd loop (q_embed_ivf_kmeans paid
    // the 2-round fit 3× before this)
    Lineage.truncate(centroids)
  }

  /** Mean best-centroid cosine over the corpus — the (similarity-form)
    * k-means objective; Lloyd rounds must not decrease it. */
  def quantizationScore(corpus: DataFrame, centroids: DataFrame, idCol: String,
                        vecCol: String): Double =
    ivfAssign(corpus, centroids, idCol, vecCol)
      .agg(avg(col("sim"))).head().getDouble(0)

  /** IVF top-k: queries search only their own bucket (nprobe=1).
    * Equi-join on bucket replaces the cross join — the candidate set
    * per query is corpus/buckets on average. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, stride: Int): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      strideCentroids(corpus, idCol, vecCol, stride))

  /** Multi-probe assignment: each row fans out to its `nprobe` nearest
    * buckets by cosine, carrying the similarity as `sim` (nprobe=1 IS
    * [[ivfAssign]] — single implementation, single tie-break rule).
    * For queries this is the recall lever: corpus rows still live in
    * exactly one bucket, only the per-query candidate set grows. */
  def ivfProbe(queries: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
               nprobe: Int): DataFrame = {
    val scored = queries.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", cosineExpr(vecCol, "centroid_vec"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__sim").desc, col("centroid_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col(idCol), col(vecCol), col("centroid_id").as("bucket"), col("__sim").as("sim"))
  }

  /** Seeded corpus-vector pairs for [[differencePlanes]]: 12 planes →
    * 3 bands × 4 bits. Ids are fixed primes < 500 (the smallest corpus
    * size), so every SF sees the same planes. */
  val DefaultPlanePairs: Seq[(Long, Long)] = Seq(
    (3L, 17L), (29L, 41L), (53L, 67L), (79L, 97L), (103L, 113L), (131L, 149L),
    (151L, 167L), (179L, 197L), (211L, 223L), (227L, 239L), (251L, 263L), (271L, 283L))

  /** Random-hyperplane source for LSH: plane i is the DIFFERENCE of two
    * seeded corpus vectors (a−b). Differences of i.i.d. draws are
    * zero-mean even when the embedding model emits a strong common
    * component, so the sign bits stay balanced — the same bias failure
    * the WTA bucket key fixes for near-dup (raw leading-dim signs
    * collapse every row into one bucket on a biased corpus). The plane
    * is never materialized as a vector: downstream uses
    * dot(v, a−b) = dot(v,a) − dot(v,b), two codegen'd dots. */
  def differencePlanes(corpus: DataFrame, idCol: String, vecCol: String,
                       pairs: Seq[(Long, Long)] = DefaultPlanePairs): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val idx = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("plane_idx", "a_id", "b_id")
    val va = corpus.select(col(idCol).as("a_id"), col(vecCol).as("va"))
    val vb = corpus.select(col(idCol).as("b_id"), col(vecCol).as("vb"))
    broadcast(idx).join(va, "a_id").join(vb, "b_id")
      .select(col("plane_idx"), col("va"), col("vb"))
  }

  /** b-bit sign signature per row: bit i = [dot(v, planeᵢ) ≥ 0],
    * assembled into one BIGINT. One broadcast fan-out over the (tiny)
    * plane table + one groupBy on the row id — the vector rides along
    * (every row of a group carries the identical array, so first() is
    * deterministic). */
  def lshSignatures(df: DataFrame, idCol: String, vecCol: String,
                    planes: DataFrame): DataFrame =
    df.select(col(idCol), col(vecCol), normExpr(vecCol).as("nrm"))
      .crossJoin(broadcast(planes))
      .withColumn("__bit", dotExpr(vecCol, "va") - dotExpr(vecCol, "vb") >= 0)
      .groupBy(col(idCol))
      // the vector norm rides along from here: the band join scores
      // every candidate COLLISION (a pair colliding in b bands scores b
      // times), so hoisting the two sqrt(self-dot)s out of the pair
      // loop cuts the hot-path flops 3x. sqrt(dot(v,v)) is computed on
      // the same doubles either way — cosine bits are unchanged.
      .agg(first(col(vecCol)).as(vecCol), first(col("nrm")).as("nrm"),
        sum(when(col("__bit"), expr("shiftleft(CAST(1 AS BIGINT), plane_idx)"))
          .otherwise(0L)).as("sig"))

  /** Minhash-style banding over the sign signature: a row fans out to
    * `nBands` (band_id, band_key) rows; two rows are candidates iff
    * they collide on at least one band. */
  def lshBands(sigs: DataFrame, idCol: String, vecCol: String,
               bandBits: Int, nBands: Int): DataFrame =
    sigs.select(col(idCol), col(vecCol), col("nrm"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"))
      .withColumn("band_key",
        expr(s"(sig >> (band_id * $bandBits)) & ${(1 << bandBits) - 1}"))

  /** LSH-bucketed ANN top-k — the third point on the exact↔approx
    * spectrum next to [[bruteForceTopK]] (exact, O(|Q|·|C|)) and
    * [[ivfTopKWith]] (needs a trained quantizer). Candidate generation
    * is a pure equi-join on (band_id, band_key): no training pass, no
    * cross join, corpus-side work is one broadcast fan-out + one
    * shuffle on the band key. Candidates are deduped across bands
    * (dropDuplicates on the pair — vectors ride along), then exactly
    * re-ranked by cosine. Recall is tunable via bands × bandBits; a
    * query returns fewer than k rows only if its buckets genuinely
    * hold fewer candidates. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, pairs: Seq[(Long, Long)] = DefaultPlanePairs,
              bandBits: Int = 4, broadcastQueries: Boolean = true): DataFrame = {
    require(pairs.nonEmpty && pairs.length % bandBits == 0,
      s"plane count ${pairs.length} must be a positive multiple of bandBits=$bandBits")
    val nBands = pairs.length / bandBits
    val planes = differencePlanes(corpus, idCol, vecCol, pairs)
    val corpusSigs = {
      val s = lshSignatures(corpus, idCol, vecCol, planes)
      // kNN-graph case (queries ARE the corpus): both band legs read
      // the same signature frame — cut it to a leaf so the plane
      // fan-out + groupBy chain computes ONCE, not once per leg. The
      // few-probes case keeps both legs lazy: the query side scans
      // only the (tiny) query frame.
      if (queries eq corpus) Lineage.truncate(s) else s
    }
    val querySigs =
      if (queries eq corpus) corpusSigs
      else lshSignatures(queries, idCol, vecCol, planes)
    val cb = lshBands(corpusSigs, idCol, vecCol, bandBits, nBands)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("nrm").as("cn"),
        col("band_id"), col("band_key"))
    val qb0 = lshBands(querySigs, idCol, vecCol, bandBits, nBands)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("nrm").as("qn"),
        col("band_id"), col("band_key"))
    // broadcast for the few-probes-against-big-corpus shape; turn OFF
    // when queries ARE the corpus (kNN graph) — there both sides
    // shuffle on the band key instead
    val qb = if (broadcastQueries) broadcast(qb0) else qb0
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    // score BEFORE the cross-band dedup: a pair colliding in b bands is
    // scored b times (cheap, codegen'd, map-side), but the dedup
    // shuffle then carries (id, id, cosine) — 24 bytes — instead of
    // two embedding arrays per row
    qb.join(cb, Seq("band_id", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotExpr("qv", "cv") / (col("qn") * col("cn"))).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** k-NN graph over the corpus itself: every vector queries the LSH
    * index (queries ARE the corpus, so nothing is broadcast — both
    * sides shuffle on the band key). Returns directed
    * (query_id, rank, neighbor_id, cosine) edges, ≤ k per node —
    * sparse by construction, the input shape for graph analytics over
    * an embedding space ([[Graphs.triangleStats]], connected
    * components, label propagation). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               pairs: Seq[(Long, Long)] = DefaultPlanePairs, bandBits: Int = 4): DataFrame =
    lshTopK(corpus, corpus, idCol, vecCol, k, pairs, bandBits, broadcastQueries = false)

  // ---------------------------------------------------------------
  // Product quantization (PQ) — the memory-side ANN lever: a D-dim
  // float vector (4·D bytes) becomes m small centroid codes (m bytes
  // at ≤256 codes), so a 100 TB embedding corpus scans as ~1.5 TB of
  // codes. Queries score candidates via ADC (asymmetric distance
  // computation): dot(q, x) ≈ Σ_s dot(q_s, c_{s,code_s(x)}) — a table
  // lookup per subspace instead of a D-element dot per candidate.
  // Composes with IVF (probe buckets first, ADC-scan inside them);
  // here the ADC scan covers the corpus, which IS the faiss "Flat+PQ"
  // baseline shape.
  // ---------------------------------------------------------------

  /** Per-row subspace slices: (id, subspace, subvec) with
    * subvec = elements [s·D/m, (s+1)·D/m). D must be divisible by m —
    * integer slicing would otherwise silently DROP the tail dims from
    * every vector, so the guard fails fast per row (raise_error stays
    * inside the codegen'd projection; no extra pass). */
  def pqSubVectors(df: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    val checked = when(size(col(vecCol)) % m === 0, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"pq: vector dim must be divisible by m=$m, got "), size(col(vecCol)).cast("string"))))
    df.select(col(idCol), checked.as(vecCol),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"))
      .select(col(idCol), col("subspace"),
        expr(s"slice($vecCol, subspace * (size($vecCol) div $m) + 1, size($vecCol) div $m)")
          .as("subvec"))
  }

  /** Deterministic PQ codebooks from stride-sampled corpus vectors
    * (the [[strideCentroids]] pattern, fixed `codes` count at every
    * corpus size): codebook entry (subspace s, code j) is the s-th
    * slice of the vector with id = j·donorStride. SQL-mirrorable ⇒
    * fully ORACLE-checkable; swap in per-subspace [[kMeansFit]]
    * sub-codebooks for production recall (the operator downstream is
    * identical). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
                  codes: Int = 16, donorStride: Int = 32): DataFrame =
    pqSubVectors(
      corpus.filter(col(idCol) % donorStride === 0 &&
        col(idCol) < donorStride.toLong * codes),
      idCol, vecCol, m)
      .select((col(idCol) / donorStride).cast("int").as("code"),
        col("subspace"), col("subvec").as("cvec"))

  /** Encode every vector as m centroid codes: per subspace,
    * code = argmin‖subvec − c‖² over the broadcast codebook, computed
    * as −2·dot(subvec,c) + dot(c,c) (the dot(subvec,subvec) term is
    * constant per row). Ties break toward the smaller code via
    * min(struct(dist, code)) — deterministic, SQL-mirrorable.
    * One broadcast join + one groupBy on (id, subspace): n·m·codes
    * scored rows map-side, n·m rows shuffled. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int): DataFrame =
    pqSubVectors(corpus, idCol, vecCol, m)
      .join(broadcast(codebooks), Seq("subspace"))
      .select(col(idCol), col("subspace"), col("code"),
        (lit(-2.0) * dotExpr("subvec", "cvec") + dotExpr("cvec", "cvec")).as("__d"))
      .groupBy(col(idCol), col("subspace"))
      .agg(min(struct(col("__d"), col("code"))).as("__m"))
      .select(col(idCol), col("subspace"), col("__m.code").as("code"))

  /** PQ-ADC top-k: corpus scanned as CODES, per-query per-subspace
    * dot tables broadcast, approximate score assembled in FIXED
    * subspace order (p0+p1+…+p(m−1), not an order-free sum — double
    * addition isn't associative and the oracle must reproduce the
    * exact bits), candidates kept via the native bounded-heap
    * aggregate (O(k) rows per partition shuffle), then the k winners
    * re-ranked against their TRUE vectors (exact cosine emitted next
    * to the ADC estimate — the quantization-error observability
    * column). Self-matches excluded. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 4, codes: Int = 16, donorStride: Int = 32): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, vecCol, m, codes, donorStride)
    val enc = pqEncode(corpus, idCol, vecCol, cb, m)
      .select(col(idCol).as("neighbor_id"), col("subspace"), col("code"))
    val qTable = pqQueryTable(queries, idCol, vecCol, cb, m)
    val pairs = enc.join(broadcast(qTable), Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
    adcTopK(pairs, corpus, queries, idCol, vecCol, k, m)
  }

  /** IVF + PQ — the production composition (the faiss IVFPQ shape):
    * coarse centroids restrict each query to its `nprobe` probed
    * buckets, PQ codes make the within-bucket scan a table lookup.
    * Per query the candidate set is ~nprobe·|corpus|/nlist rows of m
    * one-byte codes — BOTH levers at once: IVF cuts the candidate
    * count, PQ cuts the bytes and the per-candidate cost. Stride
    * centroids + stride codebooks keep the whole chain SQL-expressible
    * (swap in [[kMeansFit]] centroids / sub-codebooks for production
    * recall — identical downstream plan). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                k: Int, centroidStride: Int = 100, nprobe: Int = 2,
                m: Int = 4, codes: Int = 16, donorStride: Int = 32): DataFrame = {
    val centroids = strideCentroids(corpus, idCol, vecCol, centroidStride)
    val cb = pqCodebooks(corpus, idCol, vecCol, m, codes, donorStride)
    val encB = pqEncode(corpus, idCol, vecCol, cb, m)
      .select(col(idCol).as("neighbor_id"), col("subspace"), col("code"))
      .join(ivfAssign(corpus, centroids, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("bucket")), Seq("neighbor_id"))
    val qProbed = ivfProbe(queries, centroids, idCol, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col("bucket"))
    val qTable = pqQueryTable(queries, idCol, vecCol, cb, m)
    val pairs = encB.join(broadcast(qProbed), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qTable), Seq("query_id", "subspace", "code"))
    adcTopK(pairs, corpus, queries, idCol, vecCol, k, m)
  }

  /** Per-query ADC dot tables: (query_id, subspace, code, pdot) —
    * q·m·codes rows, always broadcast. */
  private def pqQueryTable(queries: DataFrame, idCol: String, vecCol: String,
                           cb: DataFrame, m: Int): DataFrame =
    pqSubVectors(queries, idCol, vecCol, m)
      .join(broadcast(cb), Seq("subspace"))
      .select(col(idCol).as("query_id"), col("subspace"), col("code"),
        dotExpr("subvec", "cvec").as("pdot"))

  /** Shared ADC tail: fixed-subspace-order score assembly (double
    * addition is not associative — the oracle must see the same bits),
    * bounded-heap top-k, exact-cosine re-rank columns. `pairs` carries
    * (query_id, neighbor_id, subspace, pdot) with exactly one row per
    * (query, neighbor, subspace). */
  private def adcTopK(pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int, m: Int): DataFrame = {
    val partials = (0 until m).map(s =>
      max(when(col("subspace") === s, col("pdot"))).as(s"p$s"))
    val adc = (0 until m).map(s => col(s"p$s")).reduce(_ + _)
    val winners = pairs
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(partials.head, partials.tail: _*)
      .select(col("query_id"), col("neighbor_id").as("id"), adc.as("score"))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.heapTopKAgg(col("id"), col("score"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.id").as("neighbor_id"), col("s.score").as("adc"))
    // exact re-rank columns: true cosine of each retrieved pair
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    winners.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc"),
        cosineExpr("qv", "cv").as("cosine"))
  }

  /** [[ivfTopK]] against caller-supplied centroids (e.g. a
    * [[kMeansFit]] quantizer), with optional multi-probe. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
    val qAssigned = ivfProbe(queries, centroids, idCol, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("bucket"))
    val cAssigned = assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("bucket"))
    val scored = broadcast(qAssigned).join(cAssigned, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineExpr("qv", "cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Matryoshka truncation-recall eval: retrieval quality of
    * dimension-PREFIX-truncated embeddings against the full-dimension
    * ground truth — the dimension-budget curve an MRL-style embedding
    * deployment reads before trading index size for recall. For each
    * d in `dims`, every query's cosine top-k over the d-prefix corpus
    * is compared to its full-dimension top-k; recall@k(d) =
    * |hits| / (|queries|·k). The full dimension should appear in
    * `dims` as the sanity row (recall 1.0 by construction).
    *
    * Scale shape: queries are broadcast with an exploded dim column
    * (|Q|·|dims| rows — still broadcast-sized); the corpus streams
    * through ONE scoring pass computing the sliced cosine per (query,
    * dim), so the corpus is scanned once, not once per dim. Shuffle
    * carries only the per-(query,dim) top-k window input. */
  def truncationRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    val fullDim = dims.max
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("dim", explode(array(dims.map(lit): _*))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"), col("dim"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // a leaf: truth (dim = fullDim) joins against every other dim slice
    val topk = Lineage.truncate(q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", graft.plans.VectorExpressions.cosine(
        expr("slice(qv, 1, dim)"), expr("slice(cv, 1, dim)")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("dim"), col("neighbor_id")))
    val truth = topk.filter(col("dim") === fullDim)
      .select(col("query_id"), col("neighbor_id"))
    val nq = queries.count()
    val spark = corpus.sparkSession
    import spark.implicits._
    // the dim list is the spine: a zero-hit truncation must surface as
    // recall = 0, not silently vanish from the curve
    val spine = dims.toDF("dim")
    // cut the |dims|-row result BEFORE releasing the topk leaf — out
    // reads topk through two legs (truth + the join)
    val out = Lineage.truncate(spine.join(
        topk.join(truth, Seq("query_id", "neighbor_id"))
          .groupBy(col("dim")).agg(count(lit(1)).as("n_hit")),
        Seq("dim"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        graft.queries.rd(col("n_hit").cast("double") / lit(nq * k.toDouble), 4)))
    DatasetBridge.release(topk)
    out
  }

  /** Embedding-space decontamination — the semantic complement of
    * Dedup.decontaminate (which catches only verbatim n-gram overlap):
    * flag every training vector whose cosine to SOME eval-set vector
    * reaches `tau`, reporting the best-matching eval row. A paraphrased
    * benchmark item shares no 5-gram but sits next to its source in
    * embedding space; this is the gate that catches it.
    *
    * Returns (train_id, eval_id, cosine) — one row per CONTAMINATED
    * training vector, eval_id = the argmax-cosine eval match (ties →
    * smaller eval_id).
    *
    * Scale shape: the eval set is benchmark-sized (10³–10⁵ rows) —
    * broadcast it; the train corpus streams partition-local through
    * one codegen'd cross-score + per-train-row argmax, so the shuffle
    * carries only the ≥-tau survivors. For an eval set too big to
    * broadcast, route through ivfTopKWith buckets instead — same
    * output contract. */
  def crossCorpusLeakage(train: DataFrame, evalSet: DataFrame, idCol: String,
                         vecCol: String, tau: Double): DataFrame = {
    val e = broadcast(evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("ev")))
    val t = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"))
    val w = Window.partitionBy(col("train_id")).orderBy(col("cosine").desc, col("eval_id"))
    t.crossJoin(e)
      .withColumn("cosine", cosineExpr("tv", "ev"))
      .filter(col("cosine") >= tau)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("train_id"), col("eval_id"), col("cosine"))
  }

  /** Simplified silhouette of a centroid partition (the centroid-based
    * form: a = cosine distance to the OWN centroid, b = to the nearest
    * OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1]) — the
    * cluster-quality gate for the IVF quantizer that
    * [[quantizationScore]]'s raw objective doesn't give: objective
    * always improves with more centroids, silhouette penalizes
    * centroids that don't separate.
    *
    * Full silhouette is O(n²) pairwise; the centroid form is the
    * standard large-scale substitute (one broadcast of k centroids,
    * one per-vector top-2 window — same shape as [[ivfAssign]]).
    * Per-vector s is rounded to 1e-9 fixed point and summed in exact
    * longs, so the per-bucket mean is engine-exact (the modularity
    * recipe). Returns one row per bucket: (bucket, n_vectors,
    * mean_sil). */
  def silhouette(corpus: DataFrame, centroids: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .withColumn("sim", cosineExpr(vecCol, "centroid_vec"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("centroid_id"))
    val per = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col(idCol))
      .agg(max(when(col("__rn") === 1, col("centroid_id"))).as("bucket"),
        max(when(col("__rn") === 1, col("sim"))).as("__s1"),
        max(when(col("__rn") === 2, col("sim"))).as("__s2"))
      .withColumn("a", lit(1.0) - col("__s1"))
      .withColumn("b", lit(1.0) - col("__s2"))
      .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b"))).otherwise(lit(0.0)))
    per.groupBy(col("bucket")).agg(
      count(lit(1)).as("n_vectors"),
      (sum(floor(col("sil") * lit(1e9) + lit(0.5)).cast("long")).cast("double")
        / lit(1e9) / count(lit(1))).as("mean_sil"))
  }

  /** Seeded ±1 sign matrix for [[jlProject]] — a compile-time LCG
    * walk, so the SAME literals are interpolated into the Spark
    * expression and the DuckDB oracle (the generated-constants
    * anti-drift pattern, like DefaultPlanePairs / wtaBucketDuckSql). */
  def jlSignRows(outDims: Int, inDims: Int, seed: Long = 0x9E3779B97F4A7C15L): Seq[Seq[Int]] = {
    var x = seed
    Seq.fill(outDims)(Seq.fill(inDims) {
      x = x * 6364136223846793005L + 1442695040888963407L
      if (((x >>> 32) & 1L) == 0L) 1 else -1
    })
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1
    * variant): v′_j = (1/√k) · Σ_i v_i · s_{j,i} with seeded ±1 signs —
    * the cheap, data-independent dimensionality reduction whose
    * pairwise-distance distortion is bounded by the JL lemma
    * (ε ≈ √(ln n / k)). Complements the trained reducers here: PQ
    * codes compress memory, matryoshka prefixes need a trained model;
    * JL needs NOTHING — the matrix is a compile-time literal.
    *
    * Pure per-row projection: no shuffle, no state, runs at scan
    * throughput on any corpus size. k = 16 keeps the 1/√k scale at
    * exactly 0.25 (a binary fraction), so every projected coordinate
    * is a deterministic IEEE fold both engines reproduce bit-for-bit —
    * the output hash-gates with NO tolerance.
    *
    * Returns (idCol, proj array<double>, norm2_ratio = ‖v′‖²/‖v‖², the
    * per-row JL distortion diagnostic; NULL ratio for zero vectors). */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                outDims: Int = 16, inDims: Int = 64): DataFrame = {
    require(outDims > 0 && inDims > 0, s"need positive dims, got $outDims/$inDims")
    require(math.pow(math.sqrt(outDims.toDouble).floor, 2) == outDims,
      s"outDims must be a perfect square so 1/sqrt(k) is exact, got $outDims")
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val signsSql = jlSignRows(outDims, inDims)
      .map(r => s"array(${r.mkString(",")})").mkString("array(", ",", ")")
    val proj = expr(
      s"""transform($signsSql, r ->
         |  aggregate(zip_with(__v, r, (x, s) -> x * s), CAST(0 AS DOUBLE),
         |            (acc, p) -> acc + p) * $scale)""".stripMargin)
    val norm2 = (c: String) => expr(
      s"aggregate($c, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === inDims)
      .withColumn("proj", proj)
      .select(col(idCol), col("proj"),
        when(norm2("__v") > 0, norm2("proj") / norm2("__v")).as("norm2_ratio"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick the candidate maximizing
    * λ·cos(d, query) − (1−λ)·max_{s∈S} cos(d, s) — relevance traded
    * against redundancy with what's already selected. The standard
    * diversified-retrieval / diverse-example-selection operator that
    * plain top-k (which happily returns k near-duplicates) cannot
    * express. Round 1 has an empty S, so its score is λ·rel.
    *
    * Greedy MMR is inherently sequential in k — that is the
    * algorithm, not a distribution failure — so the loop runs k
    * DataFrame rounds. Each round is SHUFFLE-FREE: the ≤ k selected
    * (vector, norm) pairs are folded into ONE 1-row broadcast array,
    * max-sim is a per-candidate `array_max(transform(...))` inside the
    * scan projection (no groupBy, no join-back), the already-selected
    * ids drop out through a broadcast anti join, and the argmax is
    * TakeOrderedAndProject (per-partition heap of 1 — no sort, no
    * data-path collect; the |S|-row state frame is the only thing
    * carried round to round, the kMeansFit broadcast-ML contract).
    * Ties break toward the smaller id. Scores stay full-precision
    * doubles through selection (both engines compute identical IEEE
    * bits — same guarantee every cosine-threshold query here relies
    * on).
    *
    * Returns (rank, id, rel, mmr) for the k selections, a projection
    * of the k-row selection leaf.
    *
    * @param query 1-row frame carrying `vecCol` (the query vector). */
  def mmrSelect(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && lambda >= 0 && lambda <= 1, s"need k >= 1, lambda in [0,1], got $k, $lambda")
    // norm precomputed once: each round's cosine then needs only the
    // dot against each selected vector (whose norm rides in the struct)
    // float→double casts are exact, so every cosine/norm bit matches
    // the float-array formulation (and the oracle's CAST AS DOUBLE[])
    // a leaf: every round scans the scored corpus
    val base = Lineage.truncate(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
        .crossJoin(broadcast(query.select(col(vecCol).cast("array<double>").as("__qv"))))
        .select(col(idCol), col("__v"), cosineExpr("__v", "__qv").as("__rel"),
          normExpr("__v").as("__vn")))
    // dot(__v, s.v) as a nested higher-order fold — runs on ≤ k
    // broadcast vectors per row, so the HOF interpreter overhead is
    // bounded by k·dim per candidate
    val maxSim = expr(
      """array_max(transform(__svs, s ->
        |  aggregate(zip_with(__v, s.v, (x, y) -> x * y), CAST(0 AS DOUBLE),
        |            (acc, p) -> acc + p) / (__vn * s.n)))""".stripMargin)
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val scored =
        if (selected == null)
          base.select(col(idCol), col("__v"), col("__vn"), col("__rel"),
            (lit(lambda) * col("__rel")).as("__mmr"))
        else {
          // ≤ k selected (vector, norm) rows folded to ONE broadcast row;
          // the anti join's right side is the same ≤ k-row frame → AQE
          // broadcasts it — the whole round stays exchange-free
          val svs = broadcast(selected
            .agg(collect_list(struct(col("__v").as("v"), col("__vn").as("n"))).as("__svs")))
          base.join(selected.select(col(idCol)), Seq(idCol), "left_anti")
            .crossJoin(svs)
            .select(col(idCol), col("__v"), col("__vn"), col("__rel"),
              (lit(lambda) * col("__rel") - lit(1.0 - lambda) * maxSim).as("__mmr"))
        }
      val pick = scored.orderBy(col("__mmr").desc, col(idCol)).limit(1)
        .select(lit(r).as("rank"), col(idCol), col("__v"), col("__vn"), col("__rel"), col("__mmr"))
      // lineage MUST reset each round (an eager leaf): round r's plan
      // references round r−1's TWICE (anti join + the folded
      // selected-vector array), so an un-truncated chain
      // grows ~3^k analysis nodes — measured 12→2 s at k=5 over a
      // 2k-row corpus, all driver-side planning
      val next = Lineage.truncate(
        if (selected == null) pick else selected.union(pick))
      selected = next
    }
    DatasetBridge.release(base)
    selected.select(col("rank"), col(idCol), col("__rel").as("rel"), col("__mmr").as("mmr"))
  }

  /** Greedy farthest-point (k-center / Gonzalez) seed selection: start
    * from the smallest id, then k−1 rounds of "add the point whose
    * min cosine-distance to the chosen set is largest" — the classic
    * 2-approximation to the k-center cover, used as a DIVERSE seed set
    * (k-means++ style init, coreset anchors, annotation batch picks)
    * where stride/hash sampling would cluster in dense regions.
    *
    * Pure dataflow: the chosen set stays a ≤k-row broadcast frame (no
    * driver collect); each round is one broadcast cross of corpus ×
    * chosen, a keyed min, and a TakeOrderedAndProject(1) argmax with a
    * deterministic (dist DESC, id) tiebreak — k·O(|corpus|) total work,
    * the argmax shuffles only one row per partition. Distances are the
    * fold-expression cosine (bit-stable element order), so selection is
    * engine-exact and the whole trajectory can be oracled by k unrolled
    * CTEs. Emits (rank, id, dist = min distance to the prior seeds at
    * selection time; dist(1) = 0 by convention). */
  def kCenterSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = Lineage.truncate(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
    var chosen = Lineage.truncate(
      c.orderBy(col("id")).limit(1)
        .select(col("id"), col("v"), lit(1).as("rank"), lit(0.0).as("dist")))
    for (r <- 2 to k) {
      val minDist = c
        .crossJoin(broadcast(chosen.select(col("id").as("cid"), col("v").as("cv"))))
        .withColumn("d", lit(1.0) - cosineExpr("v", "cv"))
        .groupBy(col("id")).agg(min(col("d")).as("mind"), first(col("v")).as("v"))
      val next = minDist
        .join(chosen.select(col("id").as("xid")), col("id") === col("xid"), "left_anti")
        .orderBy(col("mind").desc, col("id")).limit(1)
        .select(col("id"), col("v"), lit(r).as("rank"), col("mind").as("dist"))
      chosen = Lineage.truncate(chosen.union(next))
    }
    chosen.select(col("rank"), col("id"), col("dist"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix recipe for aligning parallel text across two
    * embedding spaces): every x-side vector is paired with its best
    * y-side candidate by the RATIO margin
    *   margin(x,y) = cos(x,y) / ((a_x + b_y) / 2),
    * a_x = mean cosine of x to its k nearest in Y, b_y likewise in X.
    * An absolute-cosine threshold fails because hub vectors score high
    * against EVERYTHING; dividing by the neighborhood mean cancels the
    * hub term — the reason the margin criterion is the published
    * standard for corpus-scale mining.
    *
    * Determinism: per-pair cosines quantize to 1e-9 longs up front and
    * the margin is composed ENTIRELY in integer arithmetic with one
    * closing double division —
    *   margin = 2·c9·n_x·n_y / (a9_x·n_y + b9_y·n_x)
    * (all products ≤ ~3·10¹⁰, exact in doubles) — so ranking and
    * thresholding are engine-stable without float-sum luck.
    *
    * Output (one row per x): the margin-best y, its cosine and margin,
    * `mutual` (x is also y's margin-best among y's own candidates) and
    * `mined` (margin ≥ threshold) — mined ∧ mutual is the
    * high-precision pair set real pipelines keep.
    *
    * Scale shape: two top-k passes — PLUGGABLE via `topK` (corpus,
    * queries, idCol, vecCol, k) ⇒ (query_id, neighbor_id, cosine).
    * The default is [[bruteForceTopK]] (the recall-truth baseline);
    * at corpus scale pass a bucketed strategy, e.g.
    * `(c, q, id, v, k) => ivfTopKWith(c, q, id, v, k, centroids,
    * nprobe)` — the candidate set then shrinks by the bucket count and
    * neither side is ever cross-joined (q_bitext_ann is the oracled,
    * recall-gated witness that the ANN path reproduces the brute-force
    * mining result). Then two k-row-per-id aggregates, two windows
    * partitioned by id. No all-pairs materialization beyond the top-k
    * candidates. */
  def marginBitext(xs: DataFrame, ys: DataFrame, idCol: String, vecCol: String,
                   k: Int = 4, threshold: Double = 1.0,
                   topK: (DataFrame, DataFrame, String, String, Int) => DataFrame =
                     bruteForceTopK): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def c9(c: Column): Column = floor(c * lit(1e9) + lit(0.5)).cast("long")
    val fwd = topK(ys, xs, idCol, vecCol, k)
      .select(col("query_id").as("x_id"), col("neighbor_id").as("y_id"),
        c9(col("cosine")).as("c9"))
    val rev = topK(xs, ys, idCol, vecCol, k)
      .select(col("query_id").as("y_id"), col("neighbor_id").as("x_id"),
        c9(col("cosine")).as("c9"))
    val aX = fwd.groupBy(col("x_id")).agg(sum(col("c9")).as("a9"), count(lit(1)).as("na"))
    val bY = rev.groupBy(col("y_id")).agg(sum(col("c9")).as("b9"), count(lit(1)).as("nb"))
    def withMargin(cand: DataFrame): DataFrame = cand
      .join(aX, Seq("x_id")).join(bY, Seq("y_id"))
      .withColumn("margin",
        (lit(2.0) * col("c9") * col("na") * col("nb")) /
          (col("a9") * col("nb") + col("b9") * col("na")))
    val wX = Window.partitionBy(col("x_id")).orderBy(col("margin").desc, col("y_id"))
    val bestFwd = withMargin(fwd)
      .withColumn("__r", row_number().over(wX)).filter(col("__r") === 1)
    val wY = Window.partitionBy(col("y_id")).orderBy(col("margin").desc, col("x_id"))
    val bestRev = withMargin(rev)
      .withColumn("__r", row_number().over(wY)).filter(col("__r") === 1)
      .select(col("y_id"), col("x_id").as("__rx"))
    bestFwd.join(bestRev, Seq("y_id"), "left")
      .select(col("x_id"), col("y_id"),
        (col("c9").cast("double") / 1e9).as("cosine"),
        col("margin"),
        coalesce(col("__rx") === col("x_id"), lit(false)).as("mutual"),
        (col("margin") >= threshold).as("mined"))
  }
}
