package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All are shuffle-frugal DataFrame pipelines:
  * exact dedup is one hash groupBy; MinHash/LSH only ever joins on banded
  * signature buckets (never all-pairs); SimHash is a single aggregation.
  */
object Dedup {

  /** `.estimate`-mode analogue for the dedup family (the graph algorithms'
    * per-family size model lives in `graft.api.Gds.estimate`): signature
    * and band-bucket cardinalities from the config, exact integer
    * arithmetic. `bytesMax` = 3x headroom, as in the Gds model. */
  final case class DedupEstimate(docs: Long, signatureBytes: Long,
                                 indexRows: Long, indexBytes: Long,
                                 bytesMin: Long, bytesMax: Long)

  /** MinHash-LSH: one 8 B hash per (doc, hash fn) for the signatures; one
    * (band, bucket, id) row per (doc, band) for the banded index — the ONLY
    * shuffled state (candidates are per-bucket pairs downstream). */
  def estimateMinHash(docs: Long, numHashes: Int = 32,
                      bands: Int = 16): DedupEstimate = {
    val sig = docs * numHashes * 8L
    val idxRows = docs * bands
    val idx = idxRows * 24L // band int + bucket hash + doc id
    DedupEstimate(docs, sig, idxRows, idx, sig + idx, (sig + idx) * 3)
  }

  /** SimHash: one 64-bit signature per doc; one (band, bits, id) row per
    * (doc, band) for the pigeonhole-banded index. */
  def estimateSimHash(docs: Long, bands: Int = 4): DedupEstimate = {
    val sig = docs * 8L
    val idxRows = docs * bands
    val idx = idxRows * 24L
    DedupEstimate(docs, sig, idxRows, idx, sig + idx, (sig + idx) * 3)
  }

  /** Exact duplicates on normalized text: every doc mapped to the smallest
    * doc id sharing its fingerprint. One groupBy on the md5 fingerprint —
    * map-side combine keeps hot fingerprints cheap. */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
    val canon = fp.groupBy("fp").agg(min("id").as("canonical_id"))
    fp.join(canon, "fp").select(col("id"), col("canonical_id"))
  }

  /** Word shingles (n-grams) of the normalized text as an array column. */
  def shingles(text: Column, n: Int): Column = {
    val words = split(TextOps.normalize(text), " ")
    when(size(words) < n, array(TextOps.normalize(text)))
      .otherwise(transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** MinHash signature: shingles are computed ONCE (explode), hashed once
    * with xxhash64 into a fixed-width long, and the `numHashes` permutations
    * are derived by re-hashing that long with the permutation index as seed
    * (fixed 8-byte input — orders of magnitude cheaper than re-hashing the
    * shingle string per permutation, and overflow-free under ANSI mode).
    * One aggregation with map-side combine produces all mins — at corpus
    * scale this is one shuffle of (id, 32 longs) partial states, never the
    * shingle stream. (Round-1 version rebuilt the normalize/split/shingle
    * pipeline 32x per row inside independent array_min projections — 127 s on
    * 5k docs; this formulation is ~40x cheaper.) */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
    val mins = (0 until numHashes).map { p =>
      min(xxhash64(col("h"), lit(p))).as(s"m$p")
    }
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(p => col(s"m$p")): _*).as("signature"))
  }

  /** Distinct candidate pairs (id_a < id_b) from banded MinHash-LSH: docs
    * sharing any band bucket become candidates. The only join is an equi-join
    * on (band, bucket); the distinct shuffles bare id pairs (signatures are
    * never dragged through it). */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, bands: Int = 16,
                        shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val banded = minHashSignature(docs, idCol, textCol, numHashes, shingleSize)
      .select(col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(concat_ws(",", slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)))
        }: _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** MinHash-LSH near-duplicate pairs, estimate-filtered: candidates from
    * `minHashCandidates`, kept when the estimated Jaccard (fraction of
    * agreeing minhashes) >= `threshold`. Candidate pairs join the signature
    * table twice by id — both broadcast-or-bucket-joinable at scale.
    *
    * Scale shape: bucket sizes stay small for non-pathological corpora, so
    * the all-pairs explosion never happens; AQE skew handling covers
    * degenerate buckets (e.g. empty-text clusters).
    */
  def minHashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 32, bands: Int = 16,
                            threshold: Double = 0.8,
                            shingleSize: Int = 3): DataFrame = {
    val sigs = minHashSignature(docs, idCol, textCol, numHashes, shingleSize).persist()
    val pairs = {
      val rowsPerBand = numHashes / bands
      val banded = sigs.select(col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(concat_ws(",", slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)))
        }: _*)).as(Seq("band", "bucket")))
      val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
      a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    val estJaccard = (aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v
      ).cast("double") / lit(numHashes.toDouble)).as("est_jaccard")
    pairs
      .join(sigs.select(col("id").as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("signature").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), estJaccard)
      .filter(col("est_jaccard") >= lit(threshold))
  }

  /** MinHash-LSH candidates verified by EXACT shingle Jaccard >= threshold —
    * the production near-dup shape (LSH prunes the pair space, the exact
    * check removes estimator noise) and the oracle-checkable one: with
    * default banding (16 bands of 2) a pair with true Jaccard >= threshold
    * 0.8 is missed with probability (1-0.8^2)^16 < 1e-7, so the result set
    * equals the brute-force "all pairs with exact Jaccard >= threshold". */
  def minHashNearDuplicatesExact(docs: DataFrame, idCol: String, textCol: String,
                                 numHashes: Int = 32, bands: Int = 16,
                                 threshold: Double = 0.8,
                                 shingleSize: Int = 3,
                                 /** corpora above this many docs semi-join
                                   * the exact-verify pass down to candidate
                                   * docs; -1 forces the semi-join (parity
                                   * tests). Below it, one fused plan
                                   * re-shingles everything — cheaper until
                                   * the shingle pass dominates. */
                                 semiJoinThreshold: Long = 1000000L): DataFrame = {
    val semiJoin = semiJoinThreshold < 0L ||
      (semiJoinThreshold != Long.MaxValue && docs.count() > semiJoinThreshold)
    if (!semiJoin) {
      val cands = minHashCandidates(docs, idCol, textCol, numHashes, bands, shingleSize)
      jaccardForPairs(docs, cands, idCol, textCol, n = shingleSize)
        .filter(col("jaccard") >= lit(threshold))
    } else {
      // at-scale shape: the exact-Jaccard verify only needs the shingle
      // sets of docs appearing in a candidate pair — at production dup
      // rates a small fraction of a 100-TB corpus — so the second shingle
      // pass is semi-joined down to candidates instead of re-shingling
      // everything. Candidates are materialized once (they feed both the
      // semi-join and the verify join).
      val cands = minHashCandidates(docs, idCol, textCol, numHashes, bands, shingleSize)
        .persist()
      cands.count()
      val candIds = cands.select(col("id_a").as(idCol))
        .unionByName(cands.select(col("id_b").as(idCol))).distinct()
      val candDocs = docs.join(candIds, Seq(idCol), "left_semi")
      // cands stays pinned for the lifetime of the returned (lazy) plan,
      // like minHashNearDuplicates' signature cache
      jaccardForPairs(candDocs, cands, idCol, textCol, n = shingleSize)
        .filter(col("jaccard") >= lit(threshold))
    }
  }

  /** 64-bit SimHash of the word stream: bit b of the hash is set when the
    * sum over tokens of (bit b of xxhash64(token) ? +1 : -1) is positive.
    * One explode + one aggregation (64 codegen'd conditional sums). */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("id"),
        explode(split(TextOps.normalize(col(textCol)), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val agg = tokens.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L) * lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // bit 63 of 1L << 63 is the sign bit — fine: we only compare hashes.
    agg.select(col("id"), hash.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs, banded like LSH into `bands` equal bit
    * slices; docs sharing any band bucket join, verified by hamming distance
    * <= maxHamming. Recall is EXACT when maxHamming < bands (pigeonhole:
    * maxHamming bit flips cannot touch every band); the default 4 bands of
    * 16 bits guarantees hamming <= 3 while keeping buckets selective at
    * corpus scale. */
  def simHashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val sigs = simHash(docs, idCol, textCol).persist()
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("simhash"), b * bits).bitwiseAND(lit(mask))
      }: _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingDistance(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= lit(maxHamming))
  }

  /** Exact word-set Jaccard between given candidate pairs (explode + join —
    * the portable-SQL formulation; shingle n-grams via `shingles` for n>1). */
  /** Near-duplicate CLUSTERS: connected components over the verified
    * near-dup pair graph, labeled by the smallest member doc id — the
    * production dedup shape (pairs alone under-remove: A~B and B~C must
    * collapse to ONE kept document even when A~C is below threshold).
    * Composes the LSH pair generator with the engine's own WCC (hash-min
    * label propagation — min-id labels are exactly the canonical
    * representative convention). Returns (id, cluster) for EVERY doc;
    * singletons map to themselves. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 16,
                      threshold: Double = 0.8,
                      shingleSize: Int = 3): DataFrame = {
    val pairs = minHashNearDuplicatesExact(
      docs, idCol, textCol, numHashes, bands, threshold, shingleSize)
    val g = graft.core.PropertyGraph(
      docs.select(col(idCol).cast("long").as("id")),
      pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst")))
    val clusters = graft.algo.Wcc.run(g).components
    g.unpersist()
    clusters.select(col("id"), col("componentId").as("cluster"))
  }

  /** One kept row per near-dup cluster (the cluster's min doc id), plus
    * every surviving doc's original columns — `docs` after deduplication. */
  def deduplicate(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 32, bands: Int = 16,
                  threshold: Double = 0.8,
                  shingleSize: Int = 3): DataFrame = {
    val keep = nearDupClusters(docs, idCol, textCol, numHashes, bands,
        threshold, shingleSize)
      .filter(col("id") === col("cluster")).select("id")
    docs.join(keep.withColumnRenamed("id", idCol), idCol)
  }

  /** Cross-corpus paragraph dedup (the C4 "three-sentence span" /
    * RefinedWeb paragraph pass): every paragraph keeps exactly its FIRST
    * occurrence corpus-wide, first = smallest (doc id, position). One
    * fingerprint groupBy with map-side combine (no window, no global sort)
    * + one equi-join back. Returns (id, par_idx, kept). */
  def paragraphAudit(docs: DataFrame, idCol: String, parsCol: String): DataFrame = {
    val pars = docs.select(col(idCol).as("id"),
        posexplode(col(parsCol)).as(Seq("par_idx", "par")))
      .withColumn("fp", TextOps.fingerprint(col("par")))
    val first = pars.groupBy("fp")
      .agg(min(struct(col("id"), col("par_idx"))).as("f"))
      .select(col("fp"), col("f.id").as("__kid"), col("f.par_idx").as("__kidx"))
    pars.join(first, "fp")
      .select(col("id"), col("par_idx"),
        (col("id") === col("__kid") && col("par_idx") === col("__kidx")).as("kept"))
  }

  /** [[paragraphAudit]] applied: surviving paragraphs reassembled in
    * original order per document. Returns (id, paragraphs). */
  def paragraphDedup(docs: DataFrame, idCol: String, parsCol: String): DataFrame = {
    val pars = docs.select(col(idCol).as("id"),
      posexplode(col(parsCol)).as(Seq("par_idx", "par")))
    paragraphAudit(docs, idCol, parsCol).filter(col("kept"))
      .join(pars, Seq("id", "par_idx"))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("par_idx"), col("par")))).as("ps"))
      .select(col("id"), transform(col("ps"), e => e.getField("par")).as("paragraphs"))
  }

  def jaccardForPairs(docs: DataFrame, pairs: DataFrame,
                      idCol: String, textCol: String, n: Int = 1): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("w"))
      .distinct()
    val sizes = words.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(words.select(col("id").as("id_a"), col("w")), "id_a")
      .join(words.select(col("id").as("id_b"), col("w")), Seq("id_b", "w"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.core.Num.roundTo(col("inter").cast("double") /
              (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6).as("jaccard"))
  }
}
