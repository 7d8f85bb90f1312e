package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.core.Lineage
import graft.functions.TextAnalysis

/** Deduplication operator family for training-data pipelines:
  * exact, prefix near-dup, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every stage is a shuffle on a SMALL derived
  * key (hash / band key), never on document text; candidate generation
  * is band-explode + equi-join (shuffle-friendly; no OR-condition
  * nested-loop join); exact verification runs only on the candidate
  * pairs, carrying shingle arrays for just those rows.
  */
object Dedup {

  /** Exact dedup: content-hash grouping. Returns one row per distinct
    * content with its canonical (min) id and duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String, contentCol: String): DataFrame =
    docs
      .groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Normalized-prefix near-dup grouping (cheap first-pass: catches
    * boilerplate/prefix duplication before the MinHash stage).
    *
    * The normalize work is bounded: only the first prefixLen*5 raw
    * chars are lowered/regex-collapsed to produce the prefixLen-char
    * key — whitespace collapse only shrinks text, so a 5× raw window
    * always yields ≥ prefixLen normalized chars unless the head is >80%
    * whitespace (then the key is just shorter, for every copy of the
    * boilerplate alike). Without the bound, a multi-MB document pays a
    * full-text regex pass to produce a 40-char key. */
  def prefixGroups(docs: DataFrame, idCol: String, contentCol: String, prefixLen: Int = 40): DataFrame =
    docs
      .groupBy(substring(regexp_replace(lower(substring(col(contentCol), 1, prefixLen * 5)), "\\s+", " "), 1, prefixLen).as("prefix"))
      .agg(min(col(idCol)).as("canonical_id"), max(col(idCol)).as("max_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)

  /** Universal-hash permutation constants for MinHash: perm_j(h) =
    * (A(j)·h + B(j)) mod P over a base hash in [0, P). P = 2^31−1
    * (Mersenne prime); A(j)·h stays < 2^62, so the arithmetic is exact
    * in 64-bit on any engine — the DuckDB oracle mirrors it literally. */
  private val MinhashP = 2147483647L
  private[graft] val MinhashA = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private[graft] val MinhashB = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  /** MinHash signatures (k permutations) over 3-gram shingles.
    * ONE md5 per shingle (first 15 hex chars → 60-bit base hash, reduced
    * mod P), then k affine permutations — 8× fewer hash computations
    * than the naive md5-per-permutation scheme, measured ~2× faster at
    * the signature stage. One explode + one groupBy(id) shuffle;
    * signature width k BIGINT columns. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, shingleN: Int = 3): DataFrame = {
    require(k <= MinhashA.length, s"k=$k exceeds available permutation constants")
    // the shingle expression stays INLINE in the Generate operator —
    // routing through minhashSignaturesFromShingles materializes the
    // full shingle ARRAY per row in a Project below the explode, and
    // that array write (UnsafeArrayData alloc + copy per doc) measured
    // +4 s per minhash query at sf0.1. FromShingles exists for callers
    // whose array column is ALREADY materialized (cached frames).
    val toks = docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .withColumn("__shingle", explode(TextAnalysis.shingles("__tokens", shingleN)))
      .withColumn("__h",
        expr(s"cast(conv(substr(md5(__shingle), 1, 15), 16, 10) as bigint) % $MinhashP"))
    val mins = (0 until k).map(j =>
      min((lit(MinhashA(j)) * col("__h") + lit(MinhashB(j))) % lit(MinhashP)).as(s"mh$j"))
    toks.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** [[minhashSignatures]] over a PRE-COMPUTED shingle-array column —
    * the entry point for callers that already hold the (often cached)
    * tokenize→shingle frame, so the chain isn't re-run per consumer
    * (blockingQuality shares one shingle pass between truth discovery
    * and the banding side). */
  def minhashSignaturesFromShingles(docs: DataFrame, idCol: String, shCol: String,
                                    k: Int = 8): DataFrame = {
    require(k <= MinhashA.length, s"k=$k exceeds available permutation constants")
    val toks = docs
      .withColumn("__shingle", explode(col(shCol)))
      .withColumn("__h",
        expr(s"cast(conv(substr(md5(__shingle), 1, 15), 16, 10) as bigint) % $MinhashP"))
    val mins = (0 until k).map(j =>
      min((lit(MinhashA(j)) * col("__h") + lit(MinhashB(j))) % lit(MinhashP)).as(s"mh$j"))
    toks.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** (band_id, band_key) struct per band: rowsPerBand minhashes
    * md5-combined into one key. */
  private def bandStructs(k: Int, rowsPerBand: Int): Seq[Column] = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    (0 until k / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band_id"), md5(concat_ws("|", parts: _*)).as("band_key"))
    }
  }

  /** LSH banding: signature → (band_id, band_key) rows. */
  def lshBands(signatures: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame =
    signatures
      .select(col(idCol), explode(array(bandStructs(k, rowsPerBand): _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_key"))

  /** Candidate pairs: ids sharing any band bucket, deduped, with the
    * MinHash Jaccard estimate (fraction of equal signature positions).
    *
    * Shape for scale: the signature table is cut to a leaf (it would
    * otherwise be recomputed — shingle explode included — once per
    * plan leg), band rows CARRY the full signature so the estimate is
    * computed inline on the (band_id, band_key) equi-join with no
    * second/third join back to the signatures, and the final dedup is
    * a groupBy on the pair key (a pair matching in several bands is
    * collapsed; the estimate is identical in each). */
  def lshCandidatePairs(signatures: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    // a leaf for the two join legs: left lazy, they race to compute
    // the signature chain concurrently on the first action — measured
    // 4.2 s vs 2.3 s cold at sf0.1 for the simhash twin, and at
    // cluster scale it is 2x the signature work even when local
    // wall-clock hides the race
    val sig = Lineage.truncate(signatures)
    val bands = sig
      .select(col(idCol) +: explode(array(bandStructs(k, rowsPerBand): _*)).as("band") +:
        (0 until k).map(j => col(s"mh$j")): _*)
      .select(col(idCol) +: col("band.band_id").as("band_id") +: col("band.band_key").as("band_key") +:
        (0 until k).map(j => col(s"mh$j")): _*)
    val a = bands.select(col("band_id") +: col("band_key") +: col(idCol).as("id_a") +:
      (0 until k).map(j => col(s"mh$j").as(s"a$j")): _*)
    val b = bands.select(col("band_id") +: col("band_key") +: col(idCol).as("id_b") +:
      (0 until k).map(j => col(s"mh$j").as(s"b$j")): _*)
    val eq = (0 until k).map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (eq.cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
  }

  /** Incremental LSH candidate pairs — the production dedup shape: the
    * corpus signature table is MAINTAINED (appended batch by batch) and
    * only the new batch probes it, so each ingest pays
    * O(|new| · bands) probe work instead of re-banding the corpus.
    * `newSigs` must be a subset of `allSigs` (the batch after its
    * signatures were appended); returns every candidate pair touching
    * at least one new doc, canonicalized (id_a < id_b) and deduped
    * across bands, with the same est_jaccard as [[lshCandidatePairs]].
    *
    * Scale shape: the probe side is batch-sized, the index side is the
    * corpus — both shuffle on (band_id, band_key) only; a new×new pair
    * colliding from both probe directions collapses in the same
    * groupBy that dedups cross-band hits. */
  def incrementalCandidatePairs(newSigs: DataFrame, allSigs: DataFrame, idCol: String,
                                k: Int, rowsPerBand: Int): DataFrame = {
    def bands(sigs: DataFrame, as: String, pre: String): DataFrame = sigs
      .select(col(idCol) +: explode(array(bandStructs(k, rowsPerBand): _*)).as("band") +:
        (0 until k).map(j => col(s"mh$j")): _*)
      .select(col(idCol).as(as) +: col("band.band_id").as("band_id") +:
        col("band.band_key").as("band_key") +:
        (0 until k).map(j => col(s"mh$j").as(s"$pre$j")): _*)
    val probe = bands(newSigs, "id_p", "p")
    val index = bands(allSigs, "id_i", "i")
    val eq = (0 until k).map(j => when(col(s"p$j") === col(s"i$j"), 1).otherwise(0))
      .reduce(_ + _)
    probe.join(index, Seq("band_id", "band_key"))
      .filter(col("id_p") =!= col("id_i"))
      .select(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"),
        (eq.cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard verification over candidate pairs: join the
    * shingle sets back in (only for candidate ids) and compute
    * |∩| / |∪|. This is the verify stage of the MinHash flow — and a
    * standalone exact n-gram-Jaccard dedup when fed all-pairs. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    val sh = docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol), TextAnalysis.shingles("__tokens", shingleN).as("sh"))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .drop("sh_a", "sh_b")
  }

  /** SimHash fingerprint (16- or 64-bit): per-token hash from the md5
    * hex prefix; each bit votes ±1 weighted by token multiplicity; the
    * sign vector is the fingerprint. Near-dups = small Hamming
    * distance. Pure conditional aggregation — one shuffle on the id.
    *
    * 16-bit is the test-corpus setting (cheap, but band buckets
    * saturate past ~10⁴ docs); 64-bit is the production setting —
    * 16-bit bands give 2^16 bucket values per band, so bucket
    * occupancy stays O(n/2^16) at corpus scale. The 64-bit hash is two
    * exact 32-bit md5 chunks (hi = hex 1-8 → bits 32-63, lo = hex 9-16
    * → bits 0-31); all arithmetic is exact 64-bit so a SQL oracle can
    * mirror it (bit 63 makes the BIGINT negative — two's complement on
    * both engines). */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 64): DataFrame = {
    require(bits == 16 || bits == 64, s"simhash supports 16 or 64 bits, got $bits")
    val outCol = s"simhash$bits"
    val toks = docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .withColumn("__tok", explode(col("__tokens")))
    val hashed =
      if (bits == 16)
        toks.withColumn("__h0", expr("cast(conv(substr(md5(__tok), 1, 4), 16, 10) as int)"))
      // custom Md5Long: ONE digest pass for the full 64-bit token hash
      // (first 8 md5 bytes big-endian == (hex1-8 << 32) | hex9-16, so
      // fingerprints — and the HUGEINT oracle — are value-identical to
      // the two-conv SQL formulation it replaces)
      else toks.withColumn("__h64",
        graft.plans.TextExpressions.md5Long(col("__tok")))
    def bitSet(b: Int): Column =
      if (bits == 16) expr(s"(shiftright(__h0, $b) & 1) = 1")
      else expr(s"(shiftright(__h64, $b) & 1) = 1")
    val bitSums = (0 until bits).map(b =>
      sum(when(bitSet(b), 1).otherwise(-1)).as(s"s$b"))
    // disjoint bits: OR-assembly never overflows (1L << 63 is a Scala
    // compile-time literal = Long.MinValue, not a runtime ANSI shift)
    val combined = (0 until bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    hashed.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), combined.as(outCol))
  }

  /** Back-compat alias for the 16-bit test-corpus fingerprint. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(docs, idCol, textCol, bits = 16)

  /** Connected components over an undirected pair list (the dedup
    * endgame: candidate pairs → duplicate CLUSTERS → one canonical doc
    * per cluster). Min-label propagation accelerated with a
    * pointer-doubling shortcut: each round a node takes the min of its
    * neighbors' labels AND its label's own label (label(label(v))),
    * so label chains halve every round — O(log diameter) rounds
    * instead of O(diameter) plain propagation.
    *
    * One Spark job per round: the `changed` flag is computed inside the
    * same plan (new label < old label), and the round is cut to a leaf
    * by the job that also counts its changed rows — no separate
    * comparison job, and the plan tree stays flat.
    * (GraphX does the same thing with more machinery.) */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIterations: Int = 20): DataFrame = {
    // Symmetrize with a single scan of `pairs` (explode beats a union:
    // the candidate-pair plan upstream is not computed twice), then
    // pre-partition on dst so every round's edges⋈labels join reuses
    // the leaf's partitioning instead of re-shuffling the big side.
    // A leaf: round 1's job reads edges from several subtrees (the
    // neighbor join AND the label init below), which would otherwise
    // race to compute the upstream candidate-pair chain (an LSH
    // banding pass) more than once.
    val edges = Lineage.truncate(pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("dst")))
    // Fuse the first propagation round into initialization: every node
    // appears as src (edges are symmetric), so label := min(id, min
    // neighbor) is exactly what plain round 1 would compute. Not cut:
    // it is one aggregation over the edge leaf, read by round 1 only.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("id"), least(col("id"), col("min_nbr")).as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("neighbor_label"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("neighbor_label"), col("label"))).as("label"))
      // pointer doubling: chase one extra hop through the label table
      // (labels are always node ids, so the self-join always resolves)
      val hop = labels.select(col("id").as("p_id"), col("label").as("p_label"))
      val next0 = stepped.join(hop, col("label") === col("p_id"), "left")
        .withColumn("new_label", least(col("label"), coalesce(col("p_label"), col("label"))))
        .select(col("id"), col("new_label").as("label"),
          (col("new_label") < col("old_label")).as("changed"))
      val (next, nChanged) = Lineage.truncateCounted(next0, Some(col("changed")))
      DatasetBridge.release(labels) // last round's leaf (the lazy init is left alone)
      labels = next
      converged = nChanged == 0L
      i += 1
    }
    DatasetBridge.release(edges)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Hamming distance between two simhash values (for near-dup pairing). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: fingerprints banded into 4
    * equal bands (nibbles at 16 bit, 16-bit bands at 64 bit); ids
    * sharing any band are candidates, then an exact hamming filter.
    * Pigeonhole-complete for maxHamming ≤ 3: a pair with ≤3 differing
    * bits can touch at most 3 of the 4 bands, so at least one band
    * matches exactly. Equi-join on (band_id, band_val) — same scale
    * shape as MinHash LSH, no cross join, no all-pairs hamming.
    *
    * Use bits=64 at corpus scale: 16-bit bands have 2^16 values, so
    * band buckets stay ~n/65536 and the within-bucket self-join stays
    * near-linear; the 16-bit setting (16-value nibble bands) saturates
    * past ~10⁴ docs. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bits: Int = 16): DataFrame = {
    require(maxHamming <= 3, s"4-band banding is only complete for hamming <= 3, got $maxHamming")
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1L
    val shCol = s"simhash$bits"
    // the banded frame is cut to a leaf (eager, like the old eager
    // persist: both self-join legs read it, and a lazy frame would
    // compute the tokenize→md5→bit-vote chain twice) at an EXPLICIT
    // shuffle-width layout on the band key: the band join has only
    // 4·2^bandBits distinct keys and tiny bytes but quadratic per-key
    // verify fanout, so byte-based AQE coalescing (which now also
    // re-plans under caches) would collapse the whole pair-generation
    // stage onto 1-2 tasks — bytes are the wrong proxy for this
    // CPU-bound stage (same lesson as the parallelismFirst note in
    // ScaleDefaults). Width comes from spark.sql.shuffle.partitions —
    // the caller-provided scale parameter, not a local constant.
    val sig = simhash(docs, idCol, textCol, bits)
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    val bands = Lineage.truncate(sig.select(col(idCol), col(shCol),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            // arithmetic >> then mask: the mask cuts the sign-fill bits,
            // so band 3 of a negative 64-bit fingerprint is still exact
            expr(s"shiftright($shCol, ${bandBits * b}) & $mask").as("band_val"))): _*)).as("band"))
      .select(col(idCol), col(shCol), col("band.band_id"), col("band.band_val"))
      .repartition(width, col("band_id"), col("band_val"))
      .sortWithinPartitions(col("band_id"), col("band_val")))
    val a = bands.select(col("band_id"), col("band_val"), col(idCol).as("id_a"),
      col(shCol).as("sh_a"))
    val b = bands.select(col("band_id"), col("band_val"), col(idCol).as("id_b"),
      col(shCol).as("sh_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** Training-set decontamination: find (train, eval) doc pairs sharing
    * word n-grams — the standard benchmark-leakage check run before
    * training (eval-set shingles must not appear in the training
    * corpus). Join key is the md5 of the shingle, NOT the shingle text:
    * the shuffle carries 32-byte keys however long the n-grams are.
    * Per-doc shingles are distinct (TextAnalysis.shingles dedups), so
    * `n_shared` counts distinct collisions exactly. Eval side is
    * typically tiny → broadcast; the train side never self-joins. */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 5): DataFrame = {
    def shingled(df: DataFrame, as: String) = df
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .select(col(idCol).as(as), explode(TextAnalysis.shingles("__tokens", shingleN)).as("__g"))
      .select(col(as), md5(col("__g")).as("__gh"))
    shingled(train, "train_id")
      .join(broadcast(shingled(evalSet, "eval_id")), "__gh")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS plagiarism-detector selection): positional token k-gram
    * hashes, then the MINIMUM hash of every w-hash sliding window is
    * selected. Guarantee: any shared token run of length ≥ w + k − 1
    * between two documents yields at least one shared selected
    * fingerprint, while expected density is only ~2/(w+1) of all
    * k-grams — a sparse signature with a hard recall floor, unlike
    * MinHash's probabilistic one. Docs shorter than one window keep
    * their single minimum so nothing goes unrepresented. Pure
    * expressions (transform/slice/array_min) until one explode; output
    * is one (id, fingerprint) row per distinct selected hash. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k,w >= 1, got k=$k w=$w")
    // cut to a leaf BELOW the explode, and not only for reuse across
    // overlap's two join sides: the optimizer infers a
    // `size(__fp)>0 AND isnotnull(__fp)` pre-filter from the explode
    // and pushes it under the projections, inlining the whole
    // token→md5→window-min chain ~8× into one Filter (measured 86 s for
    // the bare fingerprint pass at sf0.1 vs ~2 s materialized). The
    // leaf pins the chain to ONE evaluation per row; the inferred
    // filter then reads the materialized array.
    val arrs = Lineage.truncate(docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .withColumn("__h", expr(
        s"""CASE WHEN size(__tokens) >= $k THEN
           |  transform(sequence(1, size(__tokens) - ${k - 1}),
           |    i -> cast(conv(substr(md5(concat_ws(' ', slice(__tokens, i, $k))), 1, 15), 16, 10) as bigint))
           |ELSE array() END""".stripMargin))
      .withColumn("__fp", expr(
        s"""CASE WHEN size(__h) >= $w THEN
           |  array_distinct(transform(sequence(1, size(__h) - ${w - 1}),
           |    j -> array_min(slice(__h, j, $w))))
           |WHEN size(__h) > 0 THEN array(array_min(__h))
           |ELSE array() END""".stripMargin))
      .select(col(idCol), col("__fp")))
    arrs.select(col(idCol), explode(col("__fp")).as("fingerprint"))
  }

  /** Doc-pair winnowing overlap: equi-join on the fingerprint value
    * (same scale shape as [[decontaminate]] — shuffle keyed by the
    * 8-byte hash, never all-pairs), distinct-shared-fingerprint count
    * per pair, thresholded. At production scale drop stop-fingerprints
    * first (df > some cap): ubiquitous k-grams carry no overlap signal
    * and their buckets are the only quadratic risk. */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, w: Int = 4, minShared: Int = 1): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    val a = fps.select(col(idCol).as("id_a"), col("fingerprint"))
    val b = fps.select(col(idCol).as("id_b"), col("fingerprint"))
    a.join(b, Seq("fingerprint"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-bit seeded index pairs for the WTA bucket: compile-time LCG
    * hashes (exact integer arithmetic, so the DuckDB oracle can mirror
    * the bucket bit-for-bit); only the `% dim` lands at runtime. The
    * second index is drawn from the remaining dim-1 positions, so the
    * pair is always distinct. */
  private def wtaPairHashes(signBits: Int): Seq[(Long, Long)] =
    (0 until signBits).map { j =>
      val h1 = (2654435761L * (j + 1) + 40503L) % 1000003L
      val h2 = (2246822519L * (j + 1) + 104729L) % 1000003L
      (h1, h2)
    }

  /** Winner-take-all bucket expression over `vecCol`, emitted for either
    * dialect: bit j is `v[a_j] > v[b_j]` for a seeded pseudo-random
    * distinct index pair. Comparison-based, so the key is invariant to
    * per-corpus sign bias, uniform shifts, and positive scaling — the
    * failure modes that collapse a raw sign-bit key into one bucket —
    * and involves no float summation, so Spark and DuckDB agree
    * bit-for-bit (WTA hash: Yagnik et al., ICCV 2011). */
  private[graft] def wtaBucketSqlWith(elem: (String, String) => String, sizeOf: String => String,
                                      vecCol: String, signBits: Int): String = {
    val n = sizeOf(vecCol)
    val bits = wtaPairHashes(signBits).zipWithIndex.map { case ((h1, h2), j) =>
      val a0 = s"$h1 % $n"
      val b0 = s"(($a0) + 1 + $h2 % ($n - 1)) % $n"
      s"(CASE WHEN ${elem(vecCol, s"CAST($a0 AS INT) + 1")} > ${elem(vecCol, s"CAST($b0 AS INT) + 1")} THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    // vectors shorter than 2 can't draw a distinct index pair (and the
    // `% (n-1)` would divide by zero under ANSI): key them NULL, which
    // drops them from the equi-join candidate generation on BOTH
    // engines (null never equi-matches) instead of crashing the job or
    // silently collapsing them into bucket 0
    s"(CASE WHEN $n >= 2 THEN ${bits.mkString("(", " + ", ")")} ELSE NULL END)"
  }

  /** Spark-dialect WTA bucket column. */
  def wtaBucket(vecCol: String, signBits: Int): Column =
    expr(wtaBucketSqlWith((v, i) => s"element_at($v, $i)", v => s"size($v)", vecCol, signBits))

  /** DuckDB-dialect WTA bucket SQL fragment (for oracle queries) —
    * generated from the same seeded pairs as [[wtaBucket]], so the two
    * dialects cannot drift. */
  def wtaBucketDuckSql(vecCol: String, signBits: Int): String =
    wtaBucketSqlWith((v, i) => s"$v[$i]", v => s"len($v)", vecCol, signBits)

  /** Embedding-cosine near-dup pairs above a similarity threshold,
    * bucketed by a coarse WTA (rank-comparison) key so candidate
    * generation is an equi-join, not a cross join (scale path). Exact
    * brute-force variant lives in Similarity.bruteForceTopK.
    *
    * The bucket key is a [[wtaBucket]] — NOT the sign pattern of the
    * leading dims: real embedding models often emit coordinates with
    * strongly biased signs, and a raw sign key then sends the whole
    * corpus to one bucket, turning the within-bucket join all-pairs.
    * WTA bits compare seeded coordinate pairs instead, which stays
    * uniform under per-dimension bias (BiasedCorpusSpec pins this).
    *
    * Scale note: within-bucket comparison is quadratic in bucket size —
    * size `signBits` so 2^signBits tracks the corpus (8 bits suits the
    * test corpus; a billion-vector corpus wants 20+, same operator).
    * Vectors shorter than 2 elements can't draw an index pair and are
    * keyed NULL → excluded from candidate generation (degenerate for
    * similarity anyway). */
  def embeddingNearDups(embeddings: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, signBits: Int = 8): DataFrame = {
    val keyed = embeddings.withColumn("__bucket", wtaBucket(vecCol, signBits))
    val a = keyed.select(col("__bucket"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = keyed.select(col("__bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("__bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosineExpr("va", "vb"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Near-subset detection via shingle CONTAINMENT — the directional
    * overlap Jaccard misses when document sizes differ: a quote or a
    * sub-document dup has |A∩B|/|A| ≈ 1 while its Jaccard can be
    * arbitrarily small. Candidates are generated by a shared RARE
    * shingle (df ≤ maxDf — the same pruning lever as
    * TfIdf.shingleCosinePairs, bounding per-key join fanout);
    * containment is then exact over the FULL distinct-shingle sets of
    * each candidate pair. All counts are integers (exact under any
    * partitioning); the two ratios are single IEEE divisions, so the
    * flag threshold hash-gates with no tolerance.
    *
    * Returns (id_a, id_b, n_inter, n_a, n_b, cont_a = |A∩B|/|A|,
    * cont_b = |A∩B|/|B|) for pairs with max(cont_a, cont_b) ≥
    * `minContainment`. Docs under 3 tokens have no shingles and are
    * excluded (degenerate for containment).
    *
    * 100 TB shape: candidates come from an equi-join on the rare
    * shingle key only; the exact intersection then runs PAIR-scoped —
    * each candidate pair fetches the two docs' compact distinct-shingle
    * ARRAYS (two hash joins moving |cand| rows of array payload) and
    * counts array_intersect inside codegen. The alternative (pair ⋈
    * exploded shingles ⋈ exploded shingles) shuffles |cand| × shingles-
    * per-doc rows — measured 3-4× slower at sf0.1 (~65M intermediate
    * rows for 436k candidates) and strictly worse at scale. Never
    * all-pairs. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       maxDf: Int = 10, minContainment: Double = 0.8,
                       shingled: Option[DataFrame] = None): DataFrame = {
    // one row per doc, the full distinct-shingle set as an array —
    // shingles() already emits the deduped array, so this is a pure
    // map-side projection (no explode → collect_list round trip, which
    // costs a corpus-wide shuffle just to rebuild what the expression
    // produced). Tokenization runs ONCE here; the df/candidate pass and
    // both intersection legs all derive from this frame.
    // Eager checkpoint leaf (Lineage.truncate): materializes like the
    // old persist+count barrier but also CUTS the logical plan, so the
    // three consumers don't each re-analyze the tokenize chain — and
    // there's no cache lifetime for the caller to manage. A caller
    // holding a session-shared [[shingled3]] LEAF passes it via
    // `shingled` and the tokenize pass is skipped.
    val arrs = shingled.getOrElse(
      Lineage.truncate(shingled3(docs, idCol, textCol)))
    // candidate pairs straight from df-bounded shingle buckets: ONE
    // groupBy computes the df filter and the per-shingle doc list
    // together, and the ordered pairs unfold from the list in codegen —
    // vs the rare-shingle self-join shape, which aggregates df, joins it
    // back, then shuffle-joins the rare frame against itself (df
    // computed once here, no self-join; measured ~20% faster at sf0.1
    // and one fewer shuffle of the exploded frame at any scale). The
    // df ≤ maxDf cap bounds each bucket at maxDf·(maxDf-1)/2 pairs.
    val cand = arrs.select(col(idCol), explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .select(explode(expr(
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x), " +
          "y -> struct(x AS id_a, y AS id_b))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    // the exact intersection runs over SORTED xxhash64'd shingle
    // arrays: primitive longs instead of ~30-char strings, sorted ONCE
    // per doc (amortized over that doc's candidate pairs) so the
    // per-pair count is a zero-allocation two-pointer merge in codegen
    // (plans.SortedIntersectCount) — vs array_intersect's per-pair
    // hash-set + result-array build. transform preserves array length,
    // so n_a/n_b are exact; only n_inter could drift, on a 64-bit
    // collision WITHIN one candidate pair's ~100-element union —
    // p ≈ 100²/2⁶⁴ ≈ 5e-16 per pair, below any operational concern.
    val hashed = arrs.select(col(idCol),
      expr("sort_array(transform(sh, s -> xxhash64(s)))").as("hs"), size(col("sh")).as("n"))
    cand
      .join(hashed.select(col(idCol).as("id_a"), col("hs").as("__sa"), col("n").as("__na")), "id_a")
      .join(hashed.select(col(idCol).as("id_b"), col("hs").as("__sb"), col("n").as("__nb")), "id_b")
      .withColumn("n_inter",
        graft.plans.SetExpressions.sortedIntersectCount(col("__sa"), col("__sb")))
      .withColumn("n_a", col("__na").cast("long"))
      .withColumn("n_b", col("__nb").cast("long"))
      .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        col("cont_a"), col("cont_b"))
  }

  /** Incremental connected components — the production maintenance
    * path [[connectedComponents]] alone doesn't give: a nightly batch
    * adds `newPairs` without re-clustering the whole corpus. The
    * trick is the QUOTIENT graph: map each new pair's endpoints to
    * their current labels, keep only pairs that BRIDGE two labels,
    * run full CC on that label-level graph (its size is bounded by
    * the new-pair count — typically millions vs the corpus's
    * billions), and remap. Endpoints unseen before enter as their own
    * label, exactly as a fresh singleton would.
    *
    * Precondition: `labels` must be min-id labelings (what
    * [[connectedComponents]] emits) — then the merged label is the
    * min over the union and the result is IDENTICAL to a full
    * recompute over old ∪ new edges (IncrementalCcSpec pins this).
    *
    * Shape: two hash joins to attach labels, one CC run over the
    * quotient frame, one broadcast-size relabel join back. The corpus
    * labels frame is touched by exactly one join — never iterated.
    *
    * Lineage contract: the incoming `labels` is typically the output
    * of [[connectedComponents]], whose logical plan embeds the whole
    * upstream candidate-pair chain (LSH banding) plus every CC round.
    * This function fans that frame out to FOUR consumers (newcomer
    * anti-join, both quotient label-attach joins, final relabel), and
    * the quotient CC adds per-round actions on top — without a leaf
    * barrier each of those actions re-ANALYZES (and on cache miss
    * re-computes) the full nested lineage, which is the round-5
    * "planning blowup" cost class (822 s driver bench on 5k docs).
    * So the labeling is truncated to a checkpoint leaf here, once, and
    * every downstream plan sees a flat scan. */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
                            idCol: String = "id", labelCol: String = "cluster_id",
                            aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val lab = Lineage.truncate(
      labels.select(col(idCol).as("id"), col(labelCol).as("lbl")))
    val newcomers = newPairs.select(col(aCol).as("id"))
      .union(newPairs.select(col(bCol).as("id"))).distinct()
      .join(lab, Seq("id"), "left_anti")
      .withColumn("lbl", col("id"))
    val all = lab.union(newcomers)
    val quotient = newPairs
      .join(all.select(col("id").as(aCol), col("lbl").as("__la")), aCol)
      .join(all.select(col("id").as(bCol), col("lbl").as("__lb")), bCol)
      .filter(col("__la") =!= col("__lb"))
      .select(col("__la").as("id_a"), col("__lb").as("id_b")).distinct()
    // The quotient is |newPairs|-bounded BY CONSTRUCTION (one edge per
    // bridging new pair), so for a typical nightly delta it is a tiny
    // graph — and the distributed pointer-doubling loop pays ~10 jobs
    // of fixed per-round orchestration (measured: 35 jobs / 800 mostly
    // empty tasks for a 4-edge quotient at sf0.1) for work one driver
    // array solves exactly. Size-gated driver union-find with the SAME
    // min-label semantics (IncrementalCcSpec pins incremental ≡ full
    // recompute); above the gate — or for non-integral label types —
    // the distributed loop is unchanged. The collect is bounded by the
    // gate (100k edges ≈ 1.6 MB of longs), never corpus-scale.
    val maxDriverEdges = 100000L
    val (qLeaf, nq) = Lineage.truncateCounted(quotient)
    val integralLabels = qLeaf.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    val relabel = (if (nq <= maxDriverEdges && integralLabels) {
      val edges = qLeaf.collect().map { r =>
        def asL(i: Int): Long = r.get(i) match {
          case l: Long => l; case i2: Int => i2.toLong
        }
        (asL(0), asL(1))
      }
      // union-find with path halving; component label = min member
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p)
          x = parent(x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val out = parent.keys.toSeq.sorted.map(x => org.apache.spark.sql.Row(x, find(x)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lbl", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__nl", org.apache.spark.sql.types.LongType, nullable = false)))
      val sess = labels.sparkSession
      sess.createDataFrame(sess.sparkContext.parallelize(out, 1), schema)
        .select(col("lbl").cast(qLeaf.schema.fields(0).dataType).as("lbl"),
          col("__nl").cast(qLeaf.schema.fields(0).dataType).as("__nl"))
    } else {
      connectedComponents(qLeaf)
        .select(col("id").as("lbl"), col("cluster_id").as("__nl"))
    })
    all.join(relabel, Seq("lbl"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__nl"), col("lbl")).as(labelCol))
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune,
    * SemDeDup: Abbas et al., arXiv:2303.09540): assign every vector to
    * its argmax-cosine coarse centroid (broadcast — Similarity
    * .ivfAssign), then within each cluster drop every vector whose
    * cosine to some LOWER-ID cluster member reaches `tau`; the lowest
    * id of each near-dup relation survives as the canonical. Returns
    * one row per DROPPED vector: (id, bucket, dup_of = its
    * most-similar lower-id member, cosine), ties on cosine broken by
    * smaller `dup_of`.
    *
    * Complementary to [[embeddingNearDups]]: the WTA hash buckets only
    * catch high-similarity collisions, while a semantic (centroid)
    * partition makes a corpus-wide similarity threshold meaningful —
    * the SemDeDup finding is that pruning at tau far below exact-dup
    * levels improves LLM training efficiency.
    *
    * Scale shape: pair generation is an equi-join on the cluster id, so
    * the quadratic term is bounded per cluster — size nlist so the mean
    * cluster fits a partition (corpus/nlist² pairs per cluster); no
    * all-pairs path. Runs unchanged with a Lloyd-fitted quantizer
    * (Similarity.kMeansFit) when cluster balance matters; the stride
    * quantizer keeps the whole output SQL-oracle-expressible.
    *
    * Skew guard (`maxCanonicals`): a planted/organic MEGA-cluster
    * (every near-dup of a viral doc landing in one centroid) would
    * otherwise degrade the per-cluster term to all-pairs — the SemDeDup
    * paper clusters at k ≈ √n for exactly this reason. The canonical-
    * candidate side of the pair join is therefore capped to each
    * cluster's `maxCanonicals` LOWEST-id members, bounding the join at
    * |cluster|·cap rows. For clusters ≤ cap the output is EXACTLY the
    * uncapped result (every lower-id member is a candidate); above the
    * cap it is a documented conservative approximation — a row whose
    * only ≥τ lower-id neighbors all sit past the cap escapes dropping
    * (keeps more data, never over-drops), while dup_of/cosine for
    * dropped rows can shift to the best in-cap candidate. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, tau: Double,
                    maxCanonicals: Int = 10000): DataFrame = {
    require(maxCanonicals >= 1, s"maxCanonicals must be >= 1, got $maxCanonicals")
    val assigned = Similarity.ivfAssign(embeddings, centroids, idCol, vecCol)
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("dup_of"))
    val a = assigned.select(col("bucket"), col(idCol).as("dup_of"), col(vecCol).as("va"))
      .withColumn("__cr", row_number().over(wCap))
      .filter(col("__cr") <= maxCanonicals)
      .drop("__cr")
    val b = assigned.select(col("bucket"), col(idCol).as("id"), col(vecCol).as("vb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cosine").desc, col("dup_of"))
    a.join(b, Seq("bucket"))
      .filter(col("dup_of") < col("id"))
      .withColumn("cosine", Similarity.cosineExpr("va", "vb"))
      .filter(col("cosine") >= tau)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("bucket"), col("dup_of"), col("cosine"))
  }

  /** Blocking-quality audit for the MinHash+LSH candidate generator —
    * the record-linkage eval triple (pair completeness, precision,
    * reduction ratio) that answers "is the banding scheme losing real
    * duplicates, and how much work is it saving?". Ground truth is the
    * EXACT shingle-Jaccard ≥ `trueJaccard` pair set, discovered via a
    * shared-shingle equi-join (complete: J > 0 ⟺ the pair shares a
    * shingle — never all-pairs) with the intersection counted over
    * xxhash64'd shingle arrays (the containmentPairs trick).
    *
    * Returns ONE row: n_docs (docs with ≥1 shingle), n_pairs_total =
    * C(n_docs, 2), n_truth, n_cand, n_hit, pair_completeness =
    * hit/truth, precision = hit/cand, reduction_ratio = 1 −
    * cand/total. Counts are exact integers; the three ratios are
    * single IEEE divisions rounded to 4 decimals — hash-gateable.
    *
    * Truth discovery uses the PPJoin prefix filter (Xiao et al.,
    * WWW'08): order each doc's shingles by global rarity (df asc);
    * a pair with Jaccard ≥ t must collide within each side's first
    * n − ⌈t·n⌉ + 1 shingles, so candidate generation explodes ONLY
    * those prefixes — the corpus-wide stop-shingles that make a naive
    * shared-shingle join quadratic never enter the join (measured
    * 14.5 s → 7.2 s at sf0.1 like-for-like), and the found pair set
    * is provably identical. */
  /** @param candidates optional PRE-BUILT candidate pair frame
    *        (id_a, id_b) to audit instead of deriving the k/rowsPerBand
    *        LSH chain here — pass a session-shared frame (e.g. the
    *        SharedFrames LSH leaf) when other queries already pay for
    *        the same banding, so the audit adds only the truth leg. The
    *        caller owns parameter consistency (same shingles, k,
    *        rowsPerBand) — the audit measures WHATEVER generator
    *        produced the pairs.
    * @param sampleFraction SCALE CONTRACT for the exact-truth leg. The
    *        PPJoin ground-truth discovery is worst-case quadratic in
    *        prefix collisions — exact and affordable at audit-corpus
    *        sizes, NOT runnable over a full 100 TB corpus. For large
    *        corpora pass a fraction ≪ 1: the audit restricts to the
    *        deterministic md5-hash-bucket document sample
    *        (`Sampling.hashBucket(id, 10000) < fraction·10000` — a
    *        pure function of the id, so membership is stable across
    *        runs/engines/partitionings, and samples are NESTED: the
    *        f=0.25 corpus ⊂ f=0.5 ⊂ f=1.0, so estimates converge
    *        monotonically in coverage as f grows). Truth, candidates
    *        (both endpoints), n_docs, and n_pairs_total all restrict
    *        to the sample, so completeness/precision/reduction stay
    *        internally consistent — the standard blocked-evaluation
    *        estimator on a C(f·n, 2)-pair universe: truth cost drops
    *        by f². The reference's verifiers run the same way — on
    *        bounded lookbacks, never full history. */
  def blockingQuality(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, rowsPerBand: Int = 2,
                      trueJaccard: Double = 0.5,
                      candidates: Option[DataFrame] = None,
                      sampleFraction: Double = 1.0,
                      shingled: Option[DataFrame] = None): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val cut = math.round(sampleFraction * 10000).toInt
    val inSample = (c: Column) =>
      if (cut >= 10000) lit(true) else Sampling.hashBucket(c, 10000) < cut
    // one tokenize pass feeds truth discovery AND the exact verify;
    // eager checkpoint leaf — multi-consumer barrier, plan cut, no
    // cache lifetime to manage (containmentPairs). A caller holding a
    // session-shared [[shingled3]] LEAF passes it via `shingled` and
    // the tokenize pass is skipped entirely (filtered + re-cut for
    // f < 1 — the filter is the same pure id predicate either way).
    val sh = shingled match {
      case Some(leaf) if cut >= 10000 => leaf
      case Some(leaf) => Lineage.truncate(leaf.filter(inSample(col(idCol))))
      case None => Lineage.truncate(
        shingled3(docs.filter(inSample(col(idCol))), idCol, textCol))
    }
    // truth and cand are each consumed TWICE below (their own count
    // agg + the hit join) — without a leaf barrier both expensive
    // subtrees (the PPJoin verify chain; the LSH banding chain) are
    // computed twice per run (12.7 s driver vs 6.1 s expected in r5).
    // Same multi-consumer truncate as `sh` above.
    val truth = Lineage.truncate(
      blockingTruthPairs(sh, idCol, trueJaccard))
    // external candidates restrict to within-sample pairs via the same
    // pure hash predicate on BOTH endpoints — no join, no id broadcast
    val cand = candidates.map(
        _.select("id_a", "id_b").filter(inSample(col("id_a")) && inSample(col("id_b"))))
      .getOrElse(Lineage.truncate(lshCandidatePairs(
        minhashSignaturesFromShingles(sh, idCol, "sh", k), idCol, k, rowsPerBand)
        .select("id_a", "id_b")))
    val hit = truth.join(cand, Seq("id_a", "id_b"))
    val ratio4 = (num: Column, den: Column) =>
      when(den > 0, graft.queries.rd(num.cast("double") / den, 4))
    sh.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .withColumn("n_pairs_total",
        (col("n_docs") * (col("n_docs") - 1) / 2).cast("long"))
      .select(col("n_docs"), col("n_pairs_total"), col("n_truth"), col("n_cand"), col("n_hit"),
        ratio4(col("n_hit"), col("n_truth")).as("pair_completeness"),
        ratio4(col("n_hit"), col("n_cand")).as("precision"),
        graft.queries.rd(lit(1.0) - col("n_cand").cast("double") / col("n_pairs_total"), 4)
          .as("reduction_ratio"))
  }

  /** [[blockingQuality]]'s ground-truth leg, PRE-barrier: PPJoin
    * prefix-filter candidate generation + sorted-merge exact verify.
    * Factored out so PlanQualitySpec can pin the SortedIntersectCount
    * codegen shape directly — blockingQuality cuts this subtree to a
    * checkpoint leaf, which hides the expression from the final
    * realized plan. `sh` must be (idCol, sh: array<string>) with
    * non-empty arrays. */
  /** The canonical deduped 3-shingle frame `(idCol, sh)` (empty-shingle
    * docs dropped) that [[blockingQuality]] and [[containmentPairs]]
    * reduce their input to — exposed so multi-query sessions can build
    * it ONCE (SharedFrames leaf) and pass it to both via their
    * `shingled` parameter instead of re-tokenizing the corpus per
    * audit. */
  def shingled3(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__tokens", graft.functions.TextAnalysis.tokens(textCol))
      .select(col(idCol), graft.functions.TextAnalysis.shingles("__tokens", 3).as("sh"))
      .filter(size(col("sh")) > 0)

  private[graft] def blockingTruthPairs(sh: DataFrame, idCol: String,
                                        trueJaccard: Double): DataFrame = {
    // xxhash64 long key, not md5 hex: __gh is PPJoin-internal only —
    // the df-rarity order just needs to be SOME consistent total order,
    // a key collision can only ADD a candidate pair (shared shingle ⟹
    // shared hash), and the exact sorted-intersect verify below gates
    // the output either way (guide §2.3 narrower types: 8-byte shuffle
    // keys instead of 32-char strings through the heaviest exchanges)
    val ex = sh.select(col(idCol), size(col("sh")).as("__n"), explode(col("sh")).as("__g"))
      .select(col(idCol), col("__n"), xxhash64(col("__g")).as("__gh"))
    val dfreq = ex.groupBy(col("__gh")).agg(count(lit(1)).as("__df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("__gh"))
    // __n rides along from size(sh) — a free projection, not a second
    // per-doc count window. df via hash aggregate + equi-join, NOT a
    // count window over __gh: the hash cardinality is corpus-wide
    // (~#distinct shingles), where a window means a global sort into
    // millions of 1-3-row groups — the aggregate is the scale shape.
    val prefix = ex.join(dfreq, "__gh")
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <= col("__n") - ceil(col("__n") * trueJaccard) + 1)
      .select(col(idCol), col("__gh"), col("__n"))
    // PPJoin length filter alongside the prefix collide: J ≥ t forces
    // t·|A| ≤ |B| ≤ |A|/t, so wildly different-sized docs never reach
    // the (array-payload) verify join
    val sharing = prefix.select(col("__gh"), col(idCol).as("id_a"), col("__n").as("__la"))
      .join(prefix.select(col("__gh"), col(idCol).as("id_b"), col("__n").as("__lb")), "__gh")
      .filter(col("id_a") < col("id_b") &&
        col("__lb") >= ceil(col("__la") * trueJaccard) &&
        col("__lb") * trueJaccard <= col("__la"))
      .select("id_a", "id_b").distinct()
    // sorted-hash arrays + two-pointer merge count — same exact-verify
    // speedup as containmentPairs (sort once per doc, zero-allocation
    // per-pair count in codegen)
    val hashed = sh.select(col(idCol),
      expr("sort_array(transform(sh, s -> xxhash64(s)))").as("hs"), size(col("sh")).as("n"))
    sharing
      .join(hashed.select(col(idCol).as("id_a"), col("hs").as("__sa"), col("n").as("__na")), "id_a")
      .join(hashed.select(col(idCol).as("id_b"), col("hs").as("__sb"), col("n").as("__nb")), "id_b")
      .withColumn("__ni",
        graft.plans.SetExpressions.sortedIntersectCount(col("__sa"), col("__sb")))
      .filter(col("__ni").cast("double") /
        (col("__na") + col("__nb") - col("__ni")) >= trueJaccard)
      .select("id_a", "id_b")
  }

  /** Cross-document repeated-span detection — the token-level core of
    * EXACT-substring dedup ("drop any ≥ n-token run that appears
    * verbatim in another document", the policy suffix-array dedup
    * implements; reference: Lee et al., ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better"). The suffix array is
    * replaced by the fixed-n sliding-window form, which is the
    * distribution-friendly equivalent: a shared run of length
    * L ≥ n appears as L − n + 1 shared windows, and merging
    * overlapping repeated windows recovers the maximal span exactly —
    * no global sort, no driver-side structure.
    *
    * Pipeline: positional n-token windows per doc (one explode; the
    * shuffle key is the window's md5, never its text) → window
    * document-frequency (≥ `minDocs` DISTINCT docs = repeated) → per-
    * doc interval merge of the surviving windows (gaps-and-islands:
    * a window starting at p covers [p, p+n−1]; a window whose start is
    * ≤ running-max-end + 1 extends the current span). Output: one row
    * per MAXIMAL repeated span — (id, span_start, span_end,
    * span_tokens, n_windows), 1-based token positions, the cut list an
    * exact-dedup pass applies to the corpus.
    *
    * Scale shape: |tokens|-row explode, one hash-keyed aggregation +
    * one hash-keyed equi-join back, one per-doc window sort — all
    * shuffles on bounded keys, never all-pairs. At 100 TB, cap window
    * df before the island pass (boilerplate windows with df in the
    * millions are cut lists nobody applies — same stop-key note as
    * [[winnowOverlap]]) and swap countDistinct for approx_count_
    * distinct at the documented 2% tolerance. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 6, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val wins = docs
      .withColumn("__tokens", TextAnalysis.tokens(textCol))
      .filter(size(col("__tokens")) >= n)
      .select(col(idCol), posexplode(expr(
        // 128-bit window identity as two xxhash64 longs — INTERNAL
        // grouping key only (positions are the output), so any
        // 128-bit-collision-safe identity is value-identical; the
        // 16-byte struct shuffles/compares cheaper than md5's 32-char
        // hex string and skips the md5 compute (guide §2.3)
        s"""transform(transform(sequence(1, size(__tokens) - ${n - 1}),
           |            i -> concat_ws(' ', slice(__tokens, i, $n))),
           |  s -> named_struct('h1', xxhash64(s), 'h2', xxhash64(1, s)))""".stripMargin))
        .as(Seq("__p0", "__wh")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("__wh"))
    val repeated = wins.groupBy(col("__wh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("__end")).over(w.rowsBetween(W.unboundedPreceding, -1))
    wins.join(repeated, "__wh")
      .withColumn("__end", col("pos") + lit(n - 1))
      .withColumn("__brk", when(col("pos") > coalesce(prevEnd, lit(-1L)) + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(
        min(col("pos")).as("span_start"),
        max(col("__end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"), col("n_windows"))
  }

  /** [[repeatedSpans]] upgraded to the EXACT-substring form with BYTE
    * offsets — the actual Lee et al. (ACL 2022) cut-list contract:
    *
    *  - windows hash the RAW text slice covering n consecutive tokens
    *    (original casing, punctuation and spacing included), via
    *    [[graft.plans.AsciiTokenOffsets]] — so "exact" means exact
    *    bytes, not normalized-token equality: two docs whose token
    *    sequences agree but whose intervening bytes differ do NOT
    *    match, matching suffix-array semantics over the raw corpus;
    *  - output spans carry 1-BASED INCLUSIVE BYTE OFFSETS
    *    (`span_start`/`span_end` into the original text) plus the
    *    span's md5 — cut exactly `[span_start, span_end]` and the
    *    policy at boundaries is Lee et al.'s: the repeated run is
    *    removed verbatim, the non-repeated prefix/suffix bytes
    *    (including a window that merely touches the run) are kept.
    *
    * Maximality: a shared raw run of L ≥ n tokens appears as
    * L − n + 1 shared windows; merging token-adjacent repeated windows
    * (gaps-and-islands, as in [[repeatedSpans]]) recovers the maximal
    * run. As there, window partners may differ along a merged span —
    * the cut list is the union of repeated evidence, the conservative
    * direction for dedup.
    *
    * Scale shape identical to [[repeatedSpans]] (explode → window-df
    * hash agg → per-doc island merge) plus ONE id-keyed join back to
    * the docs to md5 the final span slice — the text column never
    * travels through the window/groupBy shuffles. */
  def repeatedSpansExact(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 6, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2, got n=$n minDocs=$minDocs")
    val withOffs = docs
      .withColumn("__offs", graft.plans.TextExpressions.asciiTokenOffsets(col(textCol)))
      .filter(size(col("__offs")) >= n)
    // window at token i covers raw bytes [start(tok i), end(tok i+n-1)]
    val wins = withOffs
      .select(col(idCol), col(textCol).as("__txt"), posexplode(expr(
        s"""transform(sequence(1, size(__offs) - ${n - 1}),
           |  i -> struct(
           |    cast(shiftright(element_at(__offs, i), 32) as int) as ws,
           |    cast(element_at(__offs, i + ${n - 1}) & 4294967295 as int) as we))""".stripMargin))
        .as(Seq("__p0", "__w")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        col("__w.ws").as("__ws"), col("__w.we").as("__we"),
        // 128-bit window identity as two xxhash64 longs (seed-split):
        // INTERNAL grouping key only (never emitted — span_md5 below
        // hashes the final span text), so any 128-bit-collision-safe
        // identity is value-identical; a 16-byte struct shuffles and
        // compares cheaper than the 32-char md5 hex string and skips
        // the md5 compute per window (guide §2.3 narrower types)
        expr("named_struct('h1', xxhash64(substring(__txt, __w.ws, __w.we - __w.ws + 1)), " +
          "'h2', xxhash64(1, substring(__txt, __w.ws, __w.we - __w.ws + 1)))").as("__wh"))
    val repeated = wins.groupBy(col("__wh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("__tend")).over(w.rowsBetween(W.unboundedPreceding, -1))
    val spans = wins.join(repeated, "__wh")
      .withColumn("__tend", col("pos") + lit(n - 1))
      .withColumn("__brk", when(col("pos") > coalesce(prevEnd, lit(-1L)) + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(
        min(col("pos")).as("tok_start"),
        max(col("__tend")).as("tok_end"),
        min(col("__ws")).as("span_start"),
        max(col("__we")).as("span_end"),
        count(lit(1)).as("n_windows"))
    spans.join(docs.select(col(idCol), col(textCol).as("__txt")), idCol :: Nil)
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("tok_end") - col("tok_start") + 1).as("span_tokens"), col("n_windows"),
        md5(expr("substring(__txt, span_start, span_end - span_start + 1)")).as("span_md5"))
  }

  /** Paragraph-grain exact dedup — the cheap FIRST pass real pipelines
    * run before any MinHash: nav bars, footers, and license blurbs
    * repeat verbatim across pages at paragraph grain, and dropping
    * them there costs one hash + one keyed window instead of a
    * shingle pipeline.
    *
    * Paragraphs: CRLF-normalized text split on blank lines
    * (`\n[ \t]*\n`), each trimmed, empties dropped, 1-based index.
    * Keep rule: the globally FIRST occurrence of each paragraph hash —
    * deterministic (doc_id, para_idx) order — survives; every later
    * copy is a cut. Emits the per-occurrence cut-list with `n_copies`
    * so a curator can whitelist high-copy boilerplate separately.
    *
    * Scale shape: one projection (split is per-row), one shuffle keyed
    * by paragraph hash; the window sees one hash-group at a time. At
    * 100 TB swap md5 for xxhash64 (same plan; md5 here because the
    * cross-engine oracle speaks it). */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = docs.select(col(idCol),
        posexplode(filter(
          transform(split(regexp_replace(col(textCol), "\r\n", "\n"), "\n[ \t]*\n"),
            p => trim(p, " \t\r\n")),
          p => length(p) > 0)).as(Seq("__pos", "__para")))
      .select(col(idCol), (col("__pos") + 1).cast("long").as("para_idx"),
        md5(col("__para")).as("para_hash"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("para_hash"))
    val wFirst = org.apache.spark.sql.expressions.Window.partitionBy(col("para_hash"))
      .orderBy(col(idCol).asc, col("para_idx").asc)
    paras
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", row_number().over(wFirst) === 1)
  }
}
