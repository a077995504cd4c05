package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash near-dup.
  *
  * Scale design: exact dedup is a single hash-agg; Jaccard ground truth is
  * quadratic in the candidate neighborhood (shingle-join prunes to docs
  * sharing ≥1 shingle); MinHash LSH is the 100 TB path — signatures are a
  * single shuffle, candidate pairs come from band buckets, and the exact
  * Jaccard re-check runs only on candidates.
  */
object Dedup {

  /** Exact dedup: keep the minimum id per content fingerprint. One
    * hash-aggregate; at scale, partial aggregation makes this map-side
    * cheap when duplicates co-locate.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("fp"), col("n_copies"))
  }

  /** Exact n-gram Jaccard similarity for all doc pairs sharing at least one
    * shingle. Output columns: d1, d2 (d1 < d2), inter, n1, n2, jaccard.
    * Integer set arithmetic with a final IEEE division — deterministic
    * cross-engine.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double): DataFrame = {
    val sh = TextFunctions.shingles(df, idCol, textCol, n).cache()
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("d1"), col("shingle"))
    val b = sh.select(col(idCol).as("d2"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(cnt.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
  }

  /** MinHash signature column: k independent permutation-min hashes of the
    * document's shingle set, as `sig: array<bigint>` (one row per doc).
    *
    * Permutations are `(a_i * xxhash64(shingle) + b_i) mod p` with fixed
    * odd multipliers derived deterministically from the index — stable
    * across runs and partitionings. One groupBy(doc) shuffle total.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3): DataFrame =
    minhashSignaturesFromShingles(
      TextFunctions.shingles(df, idCol, textCol, shingleN), idCol, numHashes)

  /** Signature computation over a pre-built (idCol, shingle) table. */
  def minhashSignaturesFromShingles(sh: DataFrame, idCol: String,
                                    numHashes: Int): DataFrame =
    minhashSignaturesAndCounts(sh, idCol, numHashes).select(col(idCol), col("sig"))

  // 31-bit hash space: a*h+b stays under 2^63 (ANSI-safe, no overflow)
  private val p = 2147483647L // 2^31 - 1 (Mersenne prime)
  private def aCoef(i: Int): Long = 2L * (1103515245L * (i + 1) % (p / 4)) + 1L
  private def bCoef(i: Int): Long = 472882027L * (i + 7) % p

  /** One-pass per-doc aggregate over the shingle table: the shingle COUNT
    * and all k permutation minima from a single groupBy — one shuffle where
    * computing signatures and counts separately pays two passes over the
    * (large) shingle table. Output: (idCol, n_sh, sig).
    */
  def minhashSignaturesAndCounts(sh: DataFrame, idCol: String,
                                 numHashes: Int): DataFrame =
    minhashSignaturesAndCountsFromHashes(
      sh.select(col(idCol), xxhash64(col("shingle")).as("h")), idCol, numHashes)

  /** [[minhashSignaturesAndCounts]] over a PRE-HASHED shingle table
    * (idCol, h: bigint from [[TextFunctions.shingleHashes]]) — identical
    * signature values (the string path hashes to the same xxhash64 before
    * the permutations), but the groupBy shuffles 8-byte longs.
    */
  def minhashSignaturesAndCountsFromHashes(sh: DataFrame, idCol: String,
                                           numHashes: Int): DataFrame = {
    val hashed = sh.withColumn("hm", pmod(col("h"), lit(p)))
    val aggs = count(lit(1)).as("n_sh") +: (0 until numHashes).map { i =>
      min(pmod(col("hm") * lit(aCoef(i)) + lit(bCoef(i)), lit(p))).as(s"m$i")
    }
    hashed.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), col("n_sh"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: split each signature into `bands` bands of
    * `numHashes/bands` rows, bucket docs by (band index, band hash), emit
    * candidate pairs from same-bucket co-occurrence. Probability a pair
    * with Jaccard s becomes a candidate: 1-(1-s^r)^b.
    */
  def minhashCandidates(sigs: DataFrame, idCol: String, bands: Int): DataFrame = {
    val banded = bandRows(sigs, idCol, bands)
    val l = banded.select(col(idCol).as("d1"), col("band"), col("bandHash"))
    val r = banded.select(col(idCol).as("d2"), col("band"), col("bandHash"))
    l.join(r, Seq("band", "bandHash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** Banded rows (idCol, band, bandHash) for a signatures frame — the
    * joinable/persistable form of the LSH index, shared by the pairwise
    * candidate join and [[IncrementalDedup]]'s corpus index.
    */
  def bandRows(sigs: DataFrame, idCol: String, bands: Int): DataFrame =
    sigs
      .select(col(idCol), posexplode(bandArray(col("sig"), bands)).as(Seq("band", "bandSig")))
      .withColumn("bandHash", xxhash64(col("band"), col("bandSig").cast("string")))
      .select(col(idCol), col("band"), col("bandHash"))

  /** Split sig array into `bands` contiguous slices rendered as strings. */
  private def bandArray(sig: Column, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sig, b * (size(sig) / lit(bands)) + 1, size(sig) / lit(bands))))

  /** Exact Jaccard computed ONLY for the given candidate pairs. The pair
    * set joins the shingle table with a PLAIN equi-join on d1: candidates
    * are data-dependent and unbounded on a skewed corpus (one hot shingle
    * bucket), so no broadcast hint — AQE size-gates any broadcast choice
    * and the fallback is a well-distributed shuffle join. The quadratic
    * shingle self-join never materializes — this is what makes LSH the
    * scale path.
    *
    * `counts` is the per-doc shingle count (idCol, n_sh); pass the output
    * of [[minhashSignaturesAndCounts]] to avoid an extra pass over `sh`.
    */
  def jaccardOnPairs(sh: DataFrame, idCol: String, pairs: DataFrame,
                     counts: Option[DataFrame] = None): DataFrame = {
    val cnt = counts.getOrElse(
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh")))
      .select(col(idCol), col("n_sh"))
    val inter = sh.select(col(idCol).as("d1"), col("shingle"))
      .join(pairs, Seq("d1"))
      .join(sh.select(col(idCol).as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(cnt.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Full MinHash near-dup pipeline: shingles (computed once, cached) →
    * one combined signatures+counts pass → banded candidates → exact
    * Jaccard verification on candidates only. This is the 100 TB shape:
    * one shuffle over the shingle table, and the quadratic step touches
    * only bucket collisions.
    *
    * Two alternatives were A/B'd in round 10 and REJECTED on measurement:
    * a per-row whole-signature expression (64 higher-order transforms per
    * doc — zero shuffles but interpreted, 4× slower than the codegen'd
    * partial-agg groupBy), and array_intersect verification against
    * un-exploded per-doc shingle arrays (uncached nested arrays columnar-
    * cache poorly and recomputing them per consumer re-pays the tokenize —
    * 2× slower than re-joining the cached flat shingle rows).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleN: Int = 3, minJaccard: Double = 0.8): DataFrame = {
    // hashed shingle stream: every cache/shuffle/join below moves longs,
    // not n-gram strings — set semantics preserved up to 64-bit collisions
    // (see shingleHashes; the q29 oracle anchor keeps the string path)
    val sh = TextFunctions.shingleHashes(df, idCol, textCol, shingleN).cache()
    // per-doc rows are tiny (65 longs/doc) — persisting decouples the
    // candidate branch from the count branch without re-aggregating sh
    val sc = minhashSignaturesAndCountsFromHashes(sh, idCol, numHashes).persist()
    val cand = minhashCandidates(sc.select(col(idCol), col("sig")), idCol, bands)
    val cnt = sc.select(col(idCol), col("n_sh"))
    val inter = sh.select(col(idCol).as("d1"), col("h"))
      .join(cand, Seq("d1"))
      .join(sh.select(col(idCol).as("d2"), col("h")), Seq("d2", "h"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(cnt.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** SimHash bit width: 60, the width of [[TextFunctions.portableHash60]].
    * 60 bits (vs the classic 64) costs nothing in near-dup quality and
    * makes every signature bit reproducible in DuckDB SQL — the q31
    * correctness oracle recomputes the full pipeline from `md5`.
    */
  val simhashBits = 60

  /** 60-bit SimHash over token hashes: for each bit, sum ±1 across token
    * occurrences (term-frequency weighted — set-based simhash collapses on
    * small vocabularies where every doc contains every word) and take the
    * sign. One shuffle on the doc key. Token hashes are the portable
    * md5-derived 60-bit hash so the whole signature has a DuckDB twin.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextFunctions.portableHash60(col("tok")))
    val bitSums = (0 until simhashBits).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until simhashBits).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, c) => a.bitwiseOR(c)).as("simhash"))
  }

  /** SimHash near-dup candidates: block on 6 bands of 10 bits; two docs
    * within Hamming distance 6 share ≥1 identical band by pigeonhole
    * (distance ≤ 5 guaranteed), larger distances with probability falling
    * off geometrically. Candidates are then filtered by exact Hamming
    * distance.
    */
  def simhashNearDupPairs(sim: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val banded = sim.select(col(idCol), col("simhash"),
        posexplode(array((0 until 6).map(b =>
          shiftrightunsigned(col("simhash"), b * 10).bitwiseAND(lit(1023L))): _*))
          .as(Seq("band", "bandVal")))
    val l = banded.select(col(idCol).as("d1"), col("simhash").as("s1"), col("band"), col("bandVal"))
    val r = banded.select(col(idCol).as("d2"), col("simhash").as("s2"), col("band"), col("bandVal"))
    l.join(r, Seq("band", "bandVal"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("s1"), col("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Record-linkage-style near-dup: prefix blocking + bounded edit-distance
    * verify. Candidates are doc pairs sharing (lang, first `prefixLen`
    * chars) — the classic blocking key from the dedup literature — and the
    * verify step is Spark's bounded `levenshtein(l, r, threshold)`, which
    * abandons a pair as soon as the running distance exceeds the bound
    * (O(threshold·len) per pair, not O(len²)).
    *
    * Scale: the join shuffles on the (lang, prefix) key only; candidate
    * volume is sum of squared block sizes, and the expensive verify runs
    * on candidates alone (99 candidates → 6 verified at sf0.01). A
    * pathological hot block (e.g. a boilerplate prefix) is an AQE skew
    * case, same posture as the banded LSH joins.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        langCol: String, prefixLen: Int, maxDist: Int): DataFrame = {
    val b = df.select(col(idCol), col(langCol).as("lang"),
      col(textCol).as("t"), substring(col(textCol), 1, prefixLen).as("pfx"))
    val l = b.select(col(idCol).as("d1"), col("lang"), col("pfx"), col("t").as("t1"))
    val r = b.select(col(idCol).as("d2"), col("lang"), col("pfx"), col("t").as("t2"))
    l.join(r, Seq("lang", "pfx"))
      .filter(col("d1") < col("d2"))
      .withColumn("lev_dist", levenshtein(col("t1"), col("t2"), maxDist))
      .filter(col("lev_dist") >= 0) // bounded form returns -1 above the threshold
      .select(col("d1"), col("d2"), col("lang"),
        col("lev_dist").cast("long").as("lev_dist"),
        length(col("t1")).cast("long").as("len1"),
        length(col("t2")).cast("long").as("len2"))
  }
}
