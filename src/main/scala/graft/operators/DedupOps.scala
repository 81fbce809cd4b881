package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Document deduplication for large-scale training-data pipelines: exact
  * (normalize → hash-group), MinHash+LSH near-dup (shingle → signature →
  * band-bucket join → within-bucket exact-Jaccard verify), and SimHash.
  *
  * Scale design (the 100 TB story): there is **no all-pairs stage
  * anywhere**. Candidate generation is a self-equi-join on (band, band
  * hash) — a plain shuffle join whose key cardinality grows with the
  * corpus, so it spreads over any number of executors; the exact-Jaccard
  * verify runs only on LSH candidates. Signatures are one pass over
  * exploded shingles with 128 codegen'd `min` aggregates (map-side partial
  * aggregation shrinks the shuffle to one row per (doc, 128 longs)).
  * Driver state: none.
  */
object DedupOps {

  val NumHashes = 128
  val BandRows = 2 // bands = 128/2 = 64 → P(candidate) = 1-(1-J^2)^64
  val NumBands: Int = NumHashes / BandRows

  // The hash family is index-salted xxhash64 — h_i(s) = xxhash64(i, s) —
  // rather than an affine a_i*x+b_i over Z/2^64: wraparound multiplication
  // is an ANSI-mode overflow error in Spark 4, and a salted hash is just
  // as uniform with no overflow semantics to care about.

  /** Whitespace-normalized lowercase text. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Spread `df` by `key` only when it arrives in fewer partitions than
    * the session's parallelism — the small-file/local-test shape where the
    * heavy per-row kernels downstream would otherwise run on a handful of
    * cores. A corpus already at cluster parallelism skips the exchange:
    * an unconditional `repartition` here is a full shuffle of the raw
    * corpus text, pure waste at the 100 TB design point (r3 ADVICE).
    * Override with `spark.graft.dedup.spreadInput` = always | never. */
  private[graft] def spreadByKey(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.dedup.spreadInput", "auto") match {
      case "always" => df.repartition(key)
      case "never" => df
      case _ =>
        if (df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
          df.repartition(key)
        else df
    }
  }

  /** (doc_id, st: array<string>) — distinct word n-shingles per document.
    * Documents with fewer than n words get an empty set. */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    // Test-scale parquet arrives in O(1) input splits; shingling is the
    // heaviest per-row pass in the family, so spread it first (gated —
    // no-op when the input is already parallel).
    withShingles(spreadByKey(docs, col("doc_id")), Seq("doc_id"), n)

  /** `keep ++ (st: array<string>)` — the distinct word n-shingles of the
    * `text` column, shared by [[shingleSets]] and the streaming gate so
    * both tokenize identically. */
  private[graft] def withShingles(docs: DataFrame, keep: Seq[String], n: Int = 3): DataFrame = {
    val w = split(lower(trim(col("text"))), "\\s+")
    docs.select(keep.map(col) :+ w.as("w"): _*)
      .select(keep.map(col) :+
        when(size(col("w")) < n, array().cast("array<string>"))
          .otherwise(array_distinct(expr(
            s"transform(sequence(0, size(w) - $n), i -> " +
            (0 until n).map(j => s"w[i + $j]").mkString("concat_ws(' ', ", ", ", ")") + ")")))
          .as("st"): _*)
  }

  /** Murmur-style 64-bit finalizer (public-domain mixing constants). */
  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  private def baseHash(s: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    fmix64(h)
  }

  /** (doc_id, sig: array<long>) — MinHash signature.
    *
    * Computed in a typed `mapPartitions` kernel: each shingle is hashed
    * once, then k derived hashes are a mix of (base ^ i*golden) in a tight
    * JIT-compiled loop. Earlier formulations — k min-aggregates over
    * exploded shingles, then nested `transform`/`array_min` higher-order
    * expressions — were 5-30x slower: HOFs don't participate in
    * whole-stage codegen, so the k*|shingles| inner evaluations were
    * interpreted with per-call boxing. This is the one hot kernel in the
    * engine where dropping below the DataFrame API is justified
    * (SURVEY §-style last resort); the signature hash family does not
    * need cross-engine reproducibility because candidates are re-verified
    * with exact Jaccard. The gated spread parallelizes hashing when the
    * corpus arrives in few input splits (no-op otherwise). */
  def minhashSignatures(shingles: DataFrame, k: Int = NumHashes): DataFrame = {
    val spark = shingles.sparkSession
    import spark.implicits._
    spreadByKey(shingles, col("doc_id"))
      .select(col("doc_id"), col("st"))
      .as[(Long, Seq[String])]
      .mapPartitions(it => it.map { case (id, st) => (id, minhashSig(st, k).toSeq) })
      .toDF("doc_id", "sig")
  }

  /** The per-document signature kernel, shared with the streaming gate. */
  private[graft] def minhashSig(st: Iterable[String], k: Int = NumHashes): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    st.foreach { s =>
      val base = baseHash(s)
      var i = 0
      while (i < k) {
        val h = fmix64(base ^ (0x9e3779b97f4a7c15L * (i + 1)))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Exact Jaccard of two sorted 64-bit shingle-hash sets, `sa` and the
    * slice `sb[from, until)` (the verify merge-scan, shared with the
    * streaming gate, whose base index packs every document's hashes into
    * one array). */
  private[graft] def mergeJaccard(sa: Array[Long], sb: Array[Long], from: Int, until: Int): Double = {
    var i = 0; var j = from; var m = 0
    while (i < sa.length && j < until) {
      val x = sa(i); val y = sb(j)
      if (x == y) { m += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = sa.length + (until - from) - m
    if (union == 0) 0.0 else m.toDouble / union
  }

  /** Default per-bucket size cap for the banded self-joins. Buckets of up
    * to this size join all-pairs; larger ones degrade to star edges. High
    * enough that it never triggers on healthy data; it exists to bound the
    * adversarial/skewed case (boilerplate floods, near-identical crawls). */
  val DefaultBucketCap = 10000

  /** Candidate pairs (id_a < id_b) sharing a bucket key, with a per-bucket
    * size cap — the skew guard of every LSH family here.
    *
    * Input: `(id, bkey)` rows (an id may appear under many keys). Buckets
    * with at most `cap` members contribute their full within-bucket pairs.
    * A bucket beyond `cap` — at corpus scale that is a flood of
    * near-identical documents, where all-pairs output is Θ(bucket²) and
    * would OOM a task before it finished — instead contributes **star
    * edges** `(min id, member)`. The star keeps the bucket connected, so
    * connected-components / keep-one-representative dedup downstream
    * reaches exactly the same clusters, at O(bucket) cost; only the
    * explicit pair list between non-representative members is forfeited.
    * Deterministic (min id as hub), no sampling, no salting randomness. */
  def cappedSelfJoinPairs(keyed: DataFrame, cap: Int = DefaultBucketCap): DataFrame = {
    val stats = keyed.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bsz"), min(col("id")).as("rep"))
    // One stats join, materialized once; both the small self-join sides and
    // the star edges read the persisted result.
    val tagged = keyed.join(stats, "bkey")
      .transform(CacheScope.persistTracked)
    val small = tagged.filter(col("bsz") <= cap).select(col("bkey"), col("id"))
    val pairsSmall = small.as("x").join(small.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val pairsBig = tagged.filter(col("bsz") > cap && col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    pairsSmall.unionByName(pairsBig).distinct()
  }

  /** Candidate pairs (id_a < id_b) sharing at least one MinHash LSH band
    * bucket (64 bands × 2 rows; `bkey = xxhash64(band, rows)` so band
    * identity is folded into the 64-bit key — cross-band collisions are
    * harmless because candidates are exact-verified downstream).
    *
    * The banded frame is persisted before the self-join: without the
    * materialization barrier, Catalyst's project-collapsing inlines the
    * signature expression into all 64 band keys on both join sides and
    * recomputes the full MinHash per comparison (measured 11.8s vs 0.2s
    * on the 672-doc corpus). The persisted state is (doc_id, bkey)
    * — 64 small rows per doc, the standard LSH index. */
  /** The 64 band-bucket keys of a `sig` column as one array expression
    * (band identity folded into each 64-bit key). */
  private[graft] def bandKeysArray: Column = array((0 until NumBands).map { j =>
    xxhash64(lit(j) +: (0 until BandRows).map(r => col("sig")(j * BandRows + r)): _*)
  }: _*)

  /** (id, bkey) LSH band index: 64 bands × 2 signature rows per document. */
  private[graft] def bandIndex(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id").as("id"), explode(bandKeysArray).as("bkey"))

  def lshCandidatePairs(sigs: DataFrame, cap: Int = DefaultBucketCap): DataFrame = {
    val banded = bandIndex(sigs)
      .transform(CacheScope.persistTracked)
    cappedSelfJoinPairs(banded, cap)
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets; both engines compute jaccard as an exact int/int division, so
    * the doubles compare bit-identically with the DuckDB oracle.
    *
    * Two deliberate drops below the declarative API, both measured:
    * the sets intersect as sorted 64-bit shingle hashes (cardinalities —
    * and hence the jaccard value — are preserved: `array_distinct`
    * upstream means distinct strings, and 64-bit collisions are
    * negligible at any corpus size that fits a cluster), and the
    * intersection itself is a typed merge-scan kernel: Spark's
    * `array_intersect`+`array_union` allocate a boxed hash set per call
    * per row, which at millions of candidate pairs was the single
    * hottest stage of the engine (480 CPU-seconds at sf0.1 — ~30x the
    * cost of everything else in the query combined). The merge-scan
    * does ~|A|+|B| primitive comparisons with zero allocation. */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = verifyJaccardAB(candidates, sh, sh, threshold)

  /** Two-sided variant: `id_a` resolves against `shA`, `id_b` against
    * `shB` (the cross-corpus case; the self-join families pass the same
    * frame twice). */
  private def verifyJaccardAB(candidates: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    val spark = shA.sparkSession
    import spark.implicits._
    def hashed(sh: DataFrame) = sh.select(col("doc_id"),
      array_sort(transform(col("st"), s => xxhash64(s))).as("sth"))
    // hash+sort is an interpreted higher-order expression over every
    // shingle of every document (the measured HOF cliff) and feeds BOTH
    // join sides — in the self-join case that was the identical
    // computation run twice. Materialize it once; the self case shares
    // one persisted frame (r16).
    val hA = CacheScope.persistTracked(hashed(shA))
    val hB = if (shB eq shA) hA else CacheScope.persistTracked(hashed(shB))
    candidates
      .join(hA.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sth", "st_a"), "id_a")
      .join(hB.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sth", "st_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("st_a"), col("st_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (a, b, sa, sb) =>
          val jac = mergeJaccard(sa, sb, 0, sb.length)
          if (jac >= threshold) Iterator.single((a, b, jac)) else Iterator.empty
        }
      }
      .toDF("id_a", "id_b", "jaccard")
  }

  /** Near-duplicate pairs with exact Jaccard >= threshold, LSH-pruned.
    * Output (id_a, id_b, jaccard). */
  def nearDupPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3,
      cap: Int = DefaultBucketCap): DataFrame = {
    // Reused by the signature pass and both sides of the verify join.
    val sh = shingleSets(docs, shingleN)
      .transform(CacheScope.persistTracked)
    verifyJaccard(lshCandidatePairs(minhashSignatures(sh), cap), sh, threshold)
  }

  /** Cross-corpus (incremental) near-duplicate pairs: for each `left`
    * document, the `right` documents with exact Jaccard >= threshold —
    * the shape a growing training corpus actually needs (dedup a new
    * crawl AGAINST the existing corpus) without re-pairing the base
    * corpus with itself. Output `(id_a, id_b, jaccard)` with `id_a` from
    * `left`, `id_b` from `right`.
    *
    * Candidates come from shared MinHash band buckets across the two
    * indexes — a plain band-key equi-join, shuffle keyed on the 64-bit
    * bucket key, so at scale the exchange moves 64 small rows per
    * document per side and no all-pairs stage exists. Skew guard,
    * cross-join flavor: a band bucket whose RIGHT membership exceeds
    * `cap` (a flood of near-identical base documents) joins left members
    * against only the bucket's min right id — detection is preserved
    * only when the left doc also verifies against that representative
    * (true for genuinely near-identical floods; a left doc near some
    * non-representative member but below threshold vs the
    * representative can be missed), and the exhaustive per-member pair
    * list is forfeited — same documented degradation as every banded
    * family here. False band collisions are removed by the exact
    * verify. */
  def crossDupPairs(left: DataFrame, right: DataFrame, threshold: Double,
      shingleN: Int = 3, cap: Int = DefaultBucketCap): DataFrame = {
    val shL = shingleSets(left, shingleN).transform(CacheScope.persistTracked)
    val shR = shingleSets(right, shingleN).transform(CacheScope.persistTracked)
    val bL = bandIndex(minhashSignatures(shL))
      .transform(CacheScope.persistTracked)
    val bR = bandIndex(minhashSignatures(shR))
      .transform(CacheScope.persistTracked)
    verifyJaccardAB(crossCappedPairs(bL, bR, cap), shL, shR, threshold)
  }

  /** Cross-index candidate pairs `(id_a from bL, id_b from bR)` sharing a
    * bucket key — the cross-join flavor of [[cappedSelfJoinPairs]]'s
    * flood guard, shared by the text and embedding cross-dedup families:
    * a bucket whose RIGHT membership exceeds `cap` pairs left members
    * against only its min right id (Θ(L·R) per-bucket blowup avoided;
    * detection survives only through the representative — see
    * [[crossDupPairs]] for the caveat). Inputs are `(id, bkey)` band
    * indexes. */
  private[graft] def crossCappedPairs(bL: DataFrame, bR: DataFrame, cap: Int): DataFrame = {
    val statsR = bR.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bsz"), min(col("id")).as("rep"))
    val taggedR = bR.join(statsR, "bkey")
      .transform(CacheScope.persistTracked)
    val smallPairs = bL.as("l")
      .join(taggedR.filter(col("bsz") <= cap).as("r"), col("l.bkey") === col("r.bkey"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val floodPairs = bL.as("l")
      .join(statsR.filter(col("bsz") > cap).as("r"), col("l.bkey") === col("r.bkey"))
      .select(col("l.id").as("id_a"), col("rep").as("id_b"))
    smallPairs.unionByName(floodPairs).distinct()
  }

  /** Exact n-gram Jaccard near-duplicate pairs — the no-approximation
    * sibling of [[nearDupPairs]], built on a k-strengthened **prefix
    * filter** from the exact set-similarity join literature (Bayardo et
    * al. "Scaling Up All Pairs", WWW'07; Xiao et al. PPJoin).
    *
    * Lemma (pigeonhole over any fixed global shingle order): if
    * `|A∩B| >= a` and each set is sorted by that order, then the k
    * order-smallest common elements all lie within the first
    * `|S| - a + k` elements of BOTH sets. `J >= t` implies
    * `|A∩B| >= ceil(t*max(|A|,|B|))`, so with per-set prefix length
    * `|S| - ceil(t|S|) + k` a qualifying pair must share at least
    * `min(k, ceil(t*max(|A|,|B|)))` prefix shingles. The candidate stage
    * therefore *counts* shared prefix shingles per pair — a long-key
    * aggregation, no arrays move — and only survivors reach the exact
    * array-based Jaccard verify. False candidates decay ~exponentially
    * in k, which is what survives templated corpora: on the sf0.1
    * documents table (6.7k docs, only 964 distinct word bigrams — every
    * bucket is a flood) a plain inverted index yields 14.3M candidates
    * and a 49 s query; the k=1 prefix filter 38 s; counting with k=4
    * prunes to the low thousands.
    *
    * Ordering is rarest-first (document frequency asc, then shingle), so
    * prefixes hold each document's most selective shingles.
    *
    * Scale: document frequencies are one hash aggregation; the rank join
    * shuffles exploded shingles by shingle (the standard MapReduce
    * PPJoin layout — key cardinality = vocabulary, grows with the
    * corpus). Prefix buckets larger than `cap` — boilerplate floods —
    * fall back to the same deterministic star-edge emission as
    * [[cappedSelfJoinPairs]] (connectivity kept for downstream
    * clustering, explicit pair list forfeited), so recall is exact
    * whenever no prefix bucket exceeds `cap`, and degrades the same
    * documented way as every LSH family here when one does. Hash
    * collisions between different shingles are harmless: the exact
    * verify drops false candidates. */
  def jaccardPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3,
      cap: Int = DefaultBucketCap, minPrefixMatches: Int = 4): DataFrame = {
    val sh = shingleSets(docs, shingleN)
      .transform(CacheScope.persistTracked)
    // Shingles hash to 64-bit keys BEFORE any shuffle: the frequency
    // aggregation, rank join, and collect_list then move 8-byte longs
    // instead of multi-word strings. Any fixed global order satisfies the
    // prefix lemma, so ordering by (df, hash) instead of (df, string) is
    // equally valid — and the bucket key was xxhash64(shingle) already.
    val tokens = sh.select(col("doc_id").as("id"), explode(col("st")).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    val freq = tokens.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // Global total order = (document frequency asc, shingle hash):
    // array_sort on the struct gives rarest-first prefixes per document.
    val ranked = tokens.join(freq, "h")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ordered"))
    val sz = size(col("ordered"))
    val prefixLen = sz - ceil(lit(threshold) * sz).cast("int") + lit(minPrefixMatches)
    // slice() clamps at the array end, which is exactly the k <= a limit
    // of the lemma: tiny sets index their whole shingle set.
    val inverted = ranked
      .select(col("id"), sz.as("sz"),
        explode(slice(col("ordered"), lit(1), prefixLen)).as("p"))
      .select(col("id"), col("sz"), col("p.h").as("bkey"))
    val stats = inverted.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bsz"), min(col("id")).as("rep"))
    val tagged = inverted.join(stats, "bkey")
      .transform(CacheScope.persistTracked)
    // Eager barrier: the index feeds three consumers (both self-join
    // sides and the star pass). Materializing it here keeps the rank
    // pipeline at exactly one evaluation — left lazy, the first action
    // races the consumers into recomputing it (measured 2x end-to-end).
    tagged.count()
    val small = tagged.filter(col("bsz") <= cap)
      .select(col("bkey"), col("id"), col("sz"))
    // Length filter (Bayardo et al. §3.1, PPJoin's first prune): J >= t
    // forces |A∩B| >= t·|A∪B|, and intersection <= min while union >=
    // max, so min(|A|,|B|) >= t·max(|A|,|B|) for every qualifying pair.
    // Evaluated inside the join's codegen predicate, it drops
    // size-incompatible pairs BEFORE the count aggregation ever sees
    // them (23% of the sf0.1 pair stream; far more on size-heterogeneous
    // corpora, where short docs meet every long doc through boilerplate
    // prefixes). Conservative at the boundary (>=), so the exact verify
    // downstream sees every pair it would have kept.
    val counted = small.as("x").join(small.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id") &&
          least(col("x.sz"), col("y.sz")).cast("double") >=
            lit(threshold) * greatest(col("x.sz"), col("y.sz")))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sz").as("sz_a"), col("y.sz").as("sz_b"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= least(lit(minPrefixMatches),
        ceil(lit(threshold) * greatest(col("sz_a"), col("sz_b"))).cast("int")))
      .select(col("id_a"), col("id_b"))
    val starPairs = tagged.filter(col("bsz") > cap && col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    verifyJaccard(counted.unionByName(starPairs).distinct(), sh, threshold)
  }

  /** Near-duplicate pairs by shared winnowing fingerprints:
    * `(id_a, id_b, n_shared)` for pairs sharing at least `minShared`
    * *discriminative* fingerprints from [[TextOps.winnowFingerprints]] —
    * substring-level duplicate detection (plagiarism/quotation shape),
    * where MinHash answers whole-document similarity.
    *
    * A fingerprint is discriminative when its document frequency is at
    * most `maxDfFrac` of the corpus: boilerplate grams ("in the", license
    * headers) appear in a constant fraction of ANY corpus, so without the
    * cutoff the ≥1-shared-fp candidate join is Θ(N²) by construction
    * (measured: 255M candidate pairs on the 5k-doc sf0.1 corpus). The
    * df cutoff is the fingerprint analogue of a stop-word list and is
    * applied to the verify count too, so `n_shared` has one clean
    * meaning. Two scale guards layer: df ≤ maxDfFrac·N bounds bucket
    * *frequency* relative to the corpus, and [[cappedSelfJoinPairs]]'s
    * absolute `cap` star-degrades the survivors (maxDfFrac·N outgrows
    * any per-task bound once N > cap/maxDfFrac). Counts stay exact for
    * every emitted pair: verification re-joins the fingerprint index,
    * never trusts bucket co-occurrence. */
  def winnowPairs(docs: DataFrame, minShared: Int = 3, maxDfFrac: Double = 0.05,
      k: Int = 5, w: Int = 4, cap: Int = DefaultBucketCap): DataFrame = {
    val fps = TextOps.winnowFingerprints(docs, k, w)
      .transform(CacheScope.persistTracked)
    // Barrier (feeds df stats, candidates, and both verify sides) and the
    // corpus size the df cutoff scales with.
    val nDocs = fps.select(col("doc_id")).distinct().count()
    val maxDf = math.max(2L, (nDocs * maxDfFrac).toLong)
    val dfStats = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val keep = fps.join(dfStats.filter(col("df") <= maxDf), "fp")
      .select(col("doc_id").as("id"), col("fp").as("bkey"))
      .transform(CacheScope.persistTracked)
    val candidates = cappedSelfJoinPairs(keep, cap)
    candidates
      .join(keep.select(col("id").as("id_a"), col("bkey").as("fp")), "id_a")
      .join(keep.select(col("id").as("id_b"), col("bkey").as("fp")), Seq("id_b", "fp"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_shared"))
  }

  /** Connected components over near-duplicate pairs: (doc_id, cluster_id)
    * for every document that appears in at least one pair, with
    * cluster_id = the minimum doc_id of its component — the step a real
    * dedup pipeline runs after pair generation to pick one representative
    * per cluster.
    *
    * Two modes, the same size-gated pattern as the interval join's
    * broadcast decision: near-dup EDGES are tiny relative to the corpus
    * (they are the duplicates, not the data), so up to `localThreshold`
    * pairs a driver-side union-find answers in one collect (~16 bytes per
    * pair; the iterative path costs several shuffle rounds of fixed
    * overhead). Above the gate — flood corpora, all-vs-all boilerplate —
    * distributed min-label propagation takes over: each iteration is one
    * shuffle join (labels onto edge sources) plus one aggregation (min
    * incoming label per destination), stopping at the fixpoint.
    * Iterations = component diameter; LSH components are hub-shaped
    * (stars/cliques — see [[cappedSelfJoinPairs]]) so the loop converges
    * in a handful of rounds even on flood-sized clusters. Driver state in
    * that mode: one convergence scalar per round, never O(data). If the
    * iteration budget runs out while labels are still moving (a
    * pathological high-diameter chain) the method THROWS instead of
    * returning silently-unmerged clusters. */
  def clusters(pairs: DataFrame, maxIter: Int = 50,
      localThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val raw = pairs.select(col("id_a"), col("id_b"))
      .transform(CacheScope.persistTracked)
    val nPairs = raw.count() // also materializes the persist barrier
    if (nPairs <= localThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      // Iterative two-pass find (walk to the root, then compress the whole
      // path): an adversarial edge ordering — a descending chain — builds
      // O(n) parent chains during the union phase without any find ever
      // walking them, and the RESOLUTION pass then hits the full chain at
      // once; a recursive find would overflow the stack near the 2^20-edge
      // gate (r10 VERDICT #4).
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // One collect, not toLocalIterator: the latter runs one Spark job
      // per partition (32 scheduling round-trips for a tiny edge list);
      // the gate bounds this at ~16 MB on the driver, same order as the
      // union-find map itself.
      raw.as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val resolved = parent.keys.toSeq.map(k => (k, find(k)))
      raw.unpersist(blocking = false)
      return resolved.toDF("doc_id", "cluster_id").repartition(col("doc_id"))
    }
    // Both edge directions in one pass over the persisted pairs.
    val edges = raw.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .transform(CacheScope.persistTracked)
    // Each round is localCheckpoint'ed: the plan is truncated to the
    // materialized RDD, so lineage (and analysis cost) stays O(1) per
    // iteration — without it each round references the previous plan
    // twice and the plan tree doubles every iteration.
    //
    // The first hop is folded into initialization: with identity starting
    // labels, one propagation is exactly min(own id, min direct
    // neighbour) — a single aggregation over the symmetric edge list, no
    // label join needed. On the star/clique components LSH emits this
    // alone converges most nodes.
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(min(col("src")).as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("label"))
      .localCheckpoint()
    def propagate(ls: DataFrame): DataFrame = {
      val incoming = edges
        .join(ls.select(col("id").as("src"), col("label").as("src_label")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("src_label")).as("nbr_min"))
      ls.join(incoming, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
    }
    // Convergence check without a prev-vs-next join: labels only ever
    // decrease, so the label total strictly drops iff anything changed.
    // decimal(38,0) keeps the sum exact for any id range a corpus can hold.
    def labelTotal(ls: DataFrame): java.math.BigDecimal =
      ls.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevTotal = labelTotal(labels)
    var iter = 0
    // sum over an empty frame is null: no pairs → no labels → already
    // converged (the count()-based r2 check exited the same way).
    var changed = prevTotal != null
    while (changed && iter < maxIter) {
      // Two propagation hops per materialization round: the checkpoint +
      // convergence check dominate each round's wall time, so halving
      // the number of rounds nearly halves the loop.
      val next = propagate(propagate(labels))
        .localCheckpoint() // eager: materializes and truncates lineage
      val t = labelTotal(next)
      changed = t.compareTo(prevTotal) < 0
      prevTotal = t
      labels = next
      iter += 1
    }
    // Labels were still moving when the iteration budget ran out — the
    // returned ids would be silently WRONG (components not fully merged).
    // Possible only for chain-shaped components of diameter > 2*maxIter,
    // which star-capping does not preclude across different buckets
    // (r3 ADVICE); fail loudly rather than hand back wrong clusters.
    if (changed) {
      edges.unpersist(blocking = false)
      raw.unpersist(blocking = false)
      throw new IllegalStateException(
        s"dedup clusters did not converge after $maxIter rounds (${2 * maxIter} " +
        "propagation hops): a component has diameter beyond the iteration " +
        "budget. Raise maxIter (labels monotonically approach the fixpoint; " +
        "more rounds always finish) or raise localThreshold to use the exact " +
        "driver union-find.")
    }
    edges.unpersist(blocking = false)
    raw.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Exact shared-substring spans — the distributed form of exact
    * substring dedup over training corpora (suffix-array dedup à la Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): a token span is "shared" when its every length-`n`
    * sub-run occurs at least twice in the corpus (anywhere — another
    * document or elsewhere in the same one). Per document emits
    * `(doc_id, n_spans, dup_tokens)`: the count of maximal shared runs
    * and the total tokens they cover; documents with no shared span
    * drop out.
    *
    * Scale design: grams hash to 64-bit keys and build an inverted
    * occurrence COUNT — duplication is the boolean `occurrences >= 2`
    * from a plain aggregation, so a gram shared by a million documents
    * costs one counter, never a pair explosion (contrast the pair-
    * emitting LSH family, which needs flood caps). One shuffle on the
    * gram hash for the count, one equi-join back, and a per-document
    * window merges consecutive duplicated positions into maximal runs.
    * No all-pairs stage, no driver state. */
  def sharedSubstringSpans(docs: DataFrame, n: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    // Gram hashing is a typed kernel, not a higher-order-function lambda
    // (the repo-wide measurement: interpreted HOFs are 5-30× slower on
    // per-token work; this one took the query from 3.9s to 0.7s at
    // sf0.1): each token hashes once (FNV-1a 64), each gram is an O(n)
    // polynomial roll over the token hashes — no per-gram string builds.
    // The hash only carries gram identity; the oracle compares outputs.
    val g = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = text.trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          if (toks.length < n) Iterator.empty
          else {
            val th = new Array[Long](toks.length)
            var i = 0
            while (i < toks.length) {
              var h = 0xcbf29ce484222325L // FNV-1a 64
              val t = toks(i)
              var j = 0
              while (j < t.length) { h = (h ^ t.charAt(j)) * 0x100000001b3L; j += 1 }
              th(i) = h
              i += 1
            }
            (0 to toks.length - n).iterator.map { p =>
              var h = 0x9e3779b97f4a7c15L
              var j = p
              while (j < p + n) { h = h * 0xff51afd7ed558ccdL + th(j); j += 1 }
              (id, p, h)
            }
          }
        }
      }.toDF("doc_id", "pos", "gh")
      .transform(CacheScope.persistTracked)
    val dup = g.groupBy(col("gh")).agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    g.join(dup, "gh")
      // Consecutive duplicated positions share (pos - row_number): each
      // group is one maximal run [p1, p2], covering p2 - p1 + n tokens.
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("p1"), max(col("pos")).as("p2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("p2") - col("p1") + n).as("dup_tokens"))
  }

  /** Exact-duplicate groups over normalized text: (keep_id, n_copies) for
    * groups with more than one member. Plain hash aggregation — Tungsten
    * hashes the grouping key, no extra hashing step needed. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))

  /** Token hash for SimHash: two independent polynomial hashes mod a
    * 31-bit prime, packed `(h1 << 32) | h2` — 62 usable fingerprint bits
    * (bits 31 and 63 are always 0; the block-pair banding guarantee is
    * unaffected and two constant bits cost nothing at Hamming time).
    *
    * Deliberately NOT [[baseHash]]: fmix64's overflowing 64-bit
    * multiplies have no DuckDB counterpart, while this form is exactly
    * `list_reduce` over code points — making `dedup_simhash` fully
    * oracle-checkable the same way `text_winnow_fp` is (r6 VERDICT #3).
    * Distribution of mod-p polynomial hashes is ample for counter
    * voting; candidates are verified by exact Hamming distance anyway. */
  private[graft] def simTokenHash(s: String): Long = {
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toLong
      h1 = (h1 * 257 + c) % 2147483647L
      h2 = (h2 * 263 + c) % 2147483629L
      i += 1
    }
    (h1 << 32) | h2
  }

  /** (doc_id, simhash: long) — 64-bit SimHash over word tokens: bit b of
    * the fingerprint is the sign of sum over tokens of ±1 depending on bit
    * b of the token hash ([[simTokenHash]] — oracle-reproducible).
    *
    * Computed in a typed `mapPartitions` kernel (same hot-kernel reasoning
    * as [[minhashSignatures]]): hash each token once, update 64 counters
    * in a tight loop. The previous explode + 64 conditional-sum aggregates
    * evaluated 64 branch expressions per token row and shuffled the
    * exploded tokens; here the only movement is the gated spread that
    * parallelizes few-split inputs (no-op on an already-parallel corpus). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spreadByKey(docs, col("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val counters = new Array[Int](64)
          // Locale.ROOT + empty-token filter keep this bit-for-bit equal
          // to the DuckDB oracle: Java trim strips \n/\t where DuckDB
          // trim() strips only spaces (a trailing newline would otherwise
          // give the oracle one extra ''-token vote), and a default-locale
          // toLowerCase is tr_TR-sensitive. Mirrors the winnow kernel.
          text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
            .iterator.filter(_.nonEmpty).foreach { t =>
            val h = simTokenHash(t)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
              b += 1
            }
          }
          var fp = 0L
          var b = 0
          while (b < 64) { if (counters(b) > 0) fp |= (1L << b); b += 1 }
          (id, fp)
        }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    *
    * Bucketing is block-pair banding (the Manku/Jain/Sarma web-dedup
    * construction): the 64-bit fingerprint splits into 8 byte blocks, and
    * each of the C(8,2)=28 block pairs forms one 16-bit band key. A pair
    * within Hamming distance d has at most d damaged blocks, so for d <= 6
    * at least two blocks are intact and some block *pair* matches — recall
    * 1.0 by pigeonhole for the default maxDist=6. The old 8x8-bit banding
    * had a similar guarantee but only 256 distinct values per band: every
    * bucket held ~N/256 docs and the self-join emitted Theta(N^2/2048)
    * candidates at corpus scale (the r2 scale-killer). 16-bit keys give
    * 65536*28 buckets; unrelated fingerprints are uniform, so expected
    * random collisions drop ~75x while the guarantee is preserved. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 6,
      cap: Int = DefaultBucketCap): DataFrame = {
    require(maxDist <= 6,
      s"block-pair banding guarantees recall only for maxDist <= 6, got $maxDist")
    val sigs = simhashSignatures(docs)
      .transform(CacheScope.persistTracked)
    def block(i: Int) = shiftright(col("simhash"), i * 8).bitwiseAND(0xFF)
    val bandKeys = for { i <- 0 until 8; j <- i + 1 until 8 } yield
      // Band identity (i,j) in the high bits keeps bands disjoint.
      lit((i.toLong * 8 + j) << 16).bitwiseOR(shiftleft(block(i), 8)).bitwiseOR(block(j))
    val banded = sigs
      .select(col("doc_id").as("id"), explode(array(bandKeys: _*)).as("bkey"))
      .transform(CacheScope.persistTracked)
    cappedSelfJoinPairs(banded, cap)
      .join(sigs.select(col("doc_id").as("id_a"), col("simhash").as("fp_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("simhash").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }
}
