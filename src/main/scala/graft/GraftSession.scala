package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed record of one coverage RLE block (reference
  * `pileup/model/Coverage` as returned by `SequilaSession.coverage`,
  * `utvf/SequilaSession.scala:89-113`). */
case class Coverage(contig: String, pos_start: Int, pos_end: Int, coverage: Int)

/** Typed record of one pileup row (string-rendered alts/quals form);
  * `ref` is the reference base at the position (A4, [[operators.MockReference]]). */
case class Pileup(contig: String, pos: Int, ref: String, coverage: Int,
    count_ref: Long, count_nonref: Long, alts: String, quals: String)

/** Typed Scala facade — parity with the reference's
  * `SequilaSession(spark)` API (`utvf/SequilaSession.scala:89-113`,
  * `ss.coverage(...)`/`ss.pileup(...)`), extended with the
  * training-data-pipeline operators. Construction attaches the engine to
  * the session via [[Graft.ensure]] — the same parts the extensions conf
  * attaches.
  */
class GraftSession(val spark: SparkSession) {
  Graft.ensure(spark)

  import spark.implicits._

  /** Depth-of-coverage RLE blocks (SURVEY §2.4 A1/A2). */
  def coverage(reads: DataFrame): DataFrame = CoverageOps.blocks(reads)

  /** Typed variant — `Dataset[Coverage]`, the reference's return shape. */
  def coverageDs(reads: DataFrame): Dataset[Coverage] =
    CoverageOps.blocks(reads).as[Coverage]

  /** Coverage for every group (e.g. per sample) in one scan —
    * beyond-reference: no per-sample re-scan at corpus scale. */
  def coverageBy(reads: DataFrame, keys: Seq[String] = Seq("sample_id")): DataFrame =
    CoverageOps.blocksBy(reads, keys)

  /** Merge per-batch/per-sample RLE coverage block sets into the
    * coverage of their union without rescanning reads (incremental
    * ingest): `mergeCoverage(coverage(a), coverage(b)) == coverage(a ∪ b)`. */
  def mergeCoverage(blockSets: DataFrame*): DataFrame =
    CoverageOps.mergeCoverage(blockSets: _*)

  /** Per-target coverage summary (bedtools coverage / mosdepth regions):
    * depth_sum, covered_bases, mean_depth per target interval, with
    * zero-coverage targets kept. */
  def targetCoverage(reads: DataFrame, targets: DataFrame,
      nameCol: String = "name"): DataFrame =
    CoverageOps.targetCoverage(reads, targets, nameCol)

  /** Mean coverage per fixed-size window (W1). */
  def coverageWindowed(reads: DataFrame, windowSize: Int): DataFrame =
    CoverageOps.windowed(reads, windowSize)

  /** GATK-CallableLoci-style depth classification: maximal NO_COVERAGE /
    * LOW_COVERAGE / CALLABLE / EXCESSIVE_COVERAGE runs over each
    * contig's covered span. */
  def callableLoci(reads: DataFrame, minDepth: Int = 4,
      maxDepth: Int = Int.MaxValue): DataFrame =
    CoverageOps.callableLoci(reads, minDepth, maxDepth)

  /** Per-alt-position pileup (A3/A4), optional quality binning (A5). */
  def pileup(reads: DataFrame, qualsBinSize: Option[Int] = None): DataFrame =
    PileupOps.pileup(reads, qualsBinSize)

  /** Typed variant — `Dataset[Pileup]`. */
  def pileupDs(reads: DataFrame, qualsBinSize: Option[Int] = None): Dataset[Pileup] =
    PileupOps.pileup(reads, qualsBinSize).as[Pileup]

  /** Reference-schema pileup: alts `Map<Byte,Short>`, quals
    * `Map<Byte,Array<Short>>` — the form the pileup UDF pack consumes. */
  def pileupMaps(reads: DataFrame, qualsBinSize: Option[Int] = None): DataFrame =
    PileupOps.pileupMaps(reads, qualsBinSize)

  /** Multi-group pileup in one pass — all samples' alt/qual/depth rows
    * from a single scan (the reference TVF re-scans per sample). */
  def pileupBy(reads: DataFrame, keys: Seq[String] = Seq("sample_id"),
      qualsBinSize: Option[Int] = None): DataFrame =
    PileupOps.pileupBy(reads, keys, qualsBinSize)

  /** Naive threshold variant caller over [[pileupMaps]] output: alt
    * fraction ≥ minAltPct% at depth ≥ minDepth, exact integer gate. */
  def callVariants(pileupMaps: DataFrame,
      minDepth: Int = 5, minAltPct: Int = 20,
      keys: Seq[String] = Nil): DataFrame =
    PileupOps.naiveVariantCalls(pileupMaps, minDepth, minAltPct, keys)

  /** Map-schema pileup rendered as samtools-mpileup text rows (§2.9
    * converter surface, reference `SamtoolsConverter`). */
  def toMpileup(pileupMaps: DataFrame): DataFrame = MpileupOps.toMpileup(pileupMaps)

  /** Parse mpileup text rows back into the map-schema pileup —
    * `fromMpileup(toMpileup(pm)) == pm` (MpileupSpec round-trip law). */
  def fromMpileup(rows: DataFrame): DataFrame = MpileupOps.fromMpileup(rows)

  /** Parse GATK Pileup walker text rows (no quality string) into the
    * reference map schema. */
  def fromGatkPileup(rows: DataFrame, caseSensitive: Boolean = true): DataFrame =
    MpileupOps.fromGatkPileup(rows, caseSensitive)

  /** bedtools-merge: coalesce intervals within `maxGap` into maximal runs
    * (`(contig, pos_start, pos_end, n_merged)`). */
  def mergeIntervals(intervals: DataFrame, maxGap: Int = 0): DataFrame =
    RangeSetOps.merge(intervals, maxGap)

  /** bedtools-complement: per-contig gaps not covered by `intervals`,
    * within `[1, max(pos_end)]`. */
  def complementIntervals(intervals: DataFrame): DataFrame =
    RangeSetOps.complement(intervals)

  /** bedtools-subtract: the fragments of each `a` interval not covered by
    * any `b` interval; `aKey` with the coordinates must uniquely identify
    * `a` rows. */
  def subtractIntervals(a: DataFrame, b: DataFrame, aKey: String): DataFrame =
    RangeSetOps.subtract(a, b, aKey)

  /** bedtools-jaccard: one-row genome-wide similarity of two interval
    * sets — intersection/union bases over the merged base sets. */
  def intervalSetJaccard(a: DataFrame, b: DataFrame): DataFrame =
    RangeSetOps.setJaccard(a, b)

  /** bedtools-cluster: tag intervals with their transitive
    * overlap-cluster identity (the containing merged run's
    * coordinates). */
  def clusterIntervals(intervals: DataFrame, keyCols: Seq[String],
      maxGap: Int = 0): DataFrame =
    RangeSetOps.cluster(intervals, keyCols, maxGap)

  /** UCSC-liftOver-style translation through a chain of
    * `(contig, pos_start, pos_end, dest_contig, offset)` blocks: mapped
    * pieces shift into the destination space, uncovered pieces come out
    * as `unmapped` rows with source coordinates. `assumeDisjoint = false`
    * re-merges the block spans for the unmapped walk when the chain is
    * unvetted (real UCSC chains are disjoint; the default trusts that). */
  def liftover(a: DataFrame, chain: DataFrame, aKey: String,
      assumeDisjoint: Boolean = true): DataFrame =
    RangeSetOps.liftover(a, chain, aKey, assumeDisjoint)

  /** bedtools-intersect (pairwise): overlapping `(a, b)` pairs clipped to
    * the shared bases, carrying the named passthrough columns. */
  def intersectIntervals(a: DataFrame, b: DataFrame,
      aCols: Seq[String], bCols: Seq[String]): DataFrame =
    RangeSetOps.intersect(a, b, aCols, bCols)

  /** bedtools-map: count/sum/min/max/mean of `valueCol` over the `b`
    * rows overlapping each `a` interval; non-overlapping intervals kept
    * (count 0, null aggregates). */
  def mapIntervals(a: DataFrame, b: DataFrame, aKey: String,
      valueCol: String): DataFrame =
    RangeSetOps.mapIntervals(a, b, aKey, valueCol)

  /** bedtools-closest: each left interval paired with its nearest right
    * feature(s) on the same contig (all ties emit) plus `distance`
    * (0 when overlapping), in the regime `method`
    * (`auto`/`broadcast`/`merge`). */
  def nearestJoin(left: DataFrame, right: DataFrame, method: String = "auto"): DataFrame =
    NearestJoinOps.nearestJoin(left, right, method)

  /** vt/bcftools-norm variant normalization: right-trim, left-extend
    * through reference repeats, left-trim to parsimony →
    * `(variant_id, contig, pos_start, pos_end, ref, alt)`. */
  def normalizeVariants(variants: DataFrame): DataFrame =
    VariantOps.normalize(variants)

  /** bcftools `norm -m- && norm`: decompose multi-allelic rows
    * (comma-separated `alt`), then left-align each allele
    * independently; adds `allele_idx`. */
  def decomposeVariants(variants: DataFrame): DataFrame =
    VariantOps.decomposeAndNormalize(variants)

  /** Exact-duplicate groups over normalized text. */
  def exactDuplicates(docs: DataFrame): DataFrame = DedupOps.exactDupGroups(docs)

  /** MinHash+LSH near-duplicate pairs, exact-Jaccard verified. */
  def nearDuplicates(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    DedupOps.nearDupPairs(docs, threshold)

  /** Exact n-gram Jaccard near-dup pairs (inverted-index candidates). */
  def nearDuplicatesExact(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    DedupOps.jaccardPairs(docs, threshold)

  /** Incremental dedup: near-dup pairs of `newDocs` AGAINST `baseDocs`
    * (never base-vs-base) — the growing-corpus shape. */
  def crossDuplicates(newDocs: DataFrame, baseDocs: DataFrame,
      threshold: Double = 0.8): DataFrame =
    DedupOps.crossDupPairs(newDocs, baseDocs, threshold)

  /** Incremental embedding dedup: cosine near-dup pairs of `newVecs`
    * AGAINST `baseVecs` (sign-LSH candidates, exact-cosine verified). */
  def crossEmbeddingDuplicates(newVecs: DataFrame, baseVecs: DataFrame,
      threshold: Double = 0.9): DataFrame =
    operators.EmbeddingOps.crossCosineDupPairs(newVecs, baseVecs, threshold)

  /** SemDedup (cluster-then-prune semantic dedup): k-means clusters via
    * the trained IVF quantizer, keep-lowest-id within each epsilon-ball →
    * (vec_id, is_dup). */
  def semanticDuplicates(vecs: DataFrame, threshold: Double = 0.9): DataFrame =
    EmbeddingOps.semDedup(vecs, threshold)

  /** Connected components over near-dup pairs → (doc_id, cluster_id). */
  def dedupClusters(pairs: DataFrame): DataFrame = DedupOps.clusters(pairs)

  /** Winnowing (rolling-hash) fingerprints → (doc_id, fp). */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    TextOps.winnowFingerprints(docs, k, w)

  /** Substring-level near-dup pairs by shared discriminative winnowing
    * fingerprints → (id_a, id_b, n_shared). */
  def winnowDuplicates(docs: DataFrame, minShared: Int = 3): DataFrame =
    DedupOps.winnowPairs(docs, minShared)

  /** Exact cosine top-k neighbors. */
  def similarityTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    EmbeddingOps.exactTopK(corpus, queries, k)

  /** LSH-bucketed approximate cosine top-k. */
  def similarityTopKApprox(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    EmbeddingOps.lshTopK(corpus, queries, k)

  /** IVF approximate cosine top-k (Lloyd-trained inverted lists). */
  def similarityTopKIvf(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    EmbeddingOps.ivfTopK(corpus, queries, k)

  /** Train the IVF index once and persist it (quantizer + corpus
    * assignment) under `path` — the expensive half of the ANN lifecycle,
    * run per corpus snapshot, not per query batch. */
  def ivfTrain(corpus: DataFrame, path: String, nLists: Int = 0,
      iters: Int = 3, replicas: Int = 2): Unit = {
    val (centroids, assigned) = EmbeddingOps.ivfIndex(corpus, nLists, iters, replicas)
    EmbeddingOps.saveIndex(spark, centroids, assigned, path)
  }

  /** IVF probe + int8 prune + exact re-rank — the three-stage
    * production ANN shape (probe fraction × 4× smaller integer scan ×
    * small exact pool). */
  def similarityTopKIvfQuantized(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    EmbeddingOps.ivfQuantizedTopK(corpus, queries, k)

  /** Serve IVF top-k strictly from a persisted index ([[ivfTrain]]'s
    * artifacts): no Lloyd pass, no corpus-wide assignment — only the
    * query batch is assigned to its probe lists and the probed slice of
    * the corpus is re-ranked. */
  def similarityTopKIvfServed(corpus: DataFrame, queries: DataFrame, k: Int,
      path: String, nProbe: Int = 6): DataFrame = {
    val (centroids, assigned) = EmbeddingOps.loadIndex(spark, path)
    EmbeddingOps.ivfTopKWith(centroids, assigned, corpus, queries, k, nProbe)
  }

  /** PQ/ADC approximate cosine top-k (subspace codebooks, asymmetric
    * distance candidate scan over m-byte codes, exact re-rank). */
  def similarityTopKPq(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    EmbeddingOps.pqTopK(corpus, queries, k)

  /** IVF-PQ approximate cosine top-k — the composed production shape
    * (probed-lists fraction × m-byte ADC scan × small exact pool). */
  def similarityTopKIvfPq(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    EmbeddingOps.ivfPqTopK(corpus, queries, k)

  /** Train the PQ index once and persist it (codebooks + encoded corpus)
    * under `path` — the PQ twin of [[ivfTrain]]. */
  def pqTrain(corpus: DataFrame, path: String, m: Int = 16,
      codes: Int = 32, iters: Int = 3): Unit = {
    val books = EmbeddingOps.pqCodebooks(corpus, m, codes, iters)
    EmbeddingOps.savePqIndex(spark, books, EmbeddingOps.pqEncode(corpus, books), path)
  }

  /** Serve PQ top-k strictly from a persisted index ([[pqTrain]]'s
    * artifacts): no training pass, no corpus re-encode — only the query
    * batch's ADC tables are computed. */
  def similarityTopKPqServed(corpus: DataFrame, queries: DataFrame, k: Int,
      path: String, rerankFactor: Int = 8): DataFrame = {
    val (books, encoded) = EmbeddingOps.loadPqIndex(spark, path)
    EmbeddingOps.pqTopKWith(books, encoded, corpus, queries, k, rerankFactor)
  }

  /** Train a BPE subword tokenizer (distributed Sennrich merges over the
    * compressed word-frequency table) → merge table
    * (rank, left, right, merged, pair_freq). */
  def trainBpe(docs: DataFrame, numMerges: Int, batch: Int = 8): DataFrame =
    BpeOps.trainBpe(docs, numMerges, batch)

  /** Apply a learned BPE merge table → per-doc fertility counts
    * (doc_id, n_words, n_pieces, n_chars_in_words). */
  def bpeEncode(docs: DataFrame, merges: DataFrame): DataFrame =
    BpeOps.bpeEncode(docs, merges)

  /** Text quality/language/fingerprint stats. */
  def textStats(docs: DataFrame): DataFrame = TextOps.stats(docs)

  /** Corpus vocabulary → (token, tf, df). */
  def vocabulary(docs: DataFrame): DataFrame = TextOps.vocabulary(docs)

  /** Unigram-LM surprisal scores (CCNet-style perplexity-filter proxy) →
    * (doc_id, n_tokens, surprisal_bits, mean_surprisal). */
  def unigramScores(docs: DataFrame): DataFrame = TextOps.unigramSurprisal(docs)

  /** Composite curation pass: score → dedup-to-representative → gate. */
  def curate(docs: DataFrame, minQuality: Double = 0.5, lang: String = "en"): DataFrame =
    TextOps.curate(docs, minQuality, lang)

  /** Deterministic hash-grid train/val/test split column. */
  def assignSplits(docs: DataFrame,
      weights: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): DataFrame =
    TextOps.assignSplits(docs, weights)

  /** Benchmark n-gram decontamination report (broadcast eval side). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 3): DataFrame =
    TextOps.contaminationReport(corpus, evalSet, n)

  /** Deterministic per-stratum downsampling (domain mixing). */
  def sampleByStratum(docs: DataFrame, rates: Map[String, Double], defaultRate: Double): DataFrame =
    TextOps.sampleByStratum(docs, rates, defaultRate)

  /** Repeated-n-gram stats per document (Gopher-style repetition gate). */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame =
    TextOps.repetitionStats(docs, n)

  /** Deterministic fractional mixture resampling (epochs per source). */
  def resampleByWeight(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame =
    TextOps.resampleByWeight(docs, weights, defaultWeight)

  /** PII redaction report (per-class counts + redacted fingerprint). */
  def piiStats(docs: DataFrame): DataFrame = TextOps.piiStats(docs)

  /** Context-window packing assignment (concat-and-chunk) — which
    * `budget`-token window each document starts in, and where. */
  def packForTraining(docs: DataFrame, budget: Int, nShards: Int = 8): DataFrame =
    TextOps.packAssignments(docs, budget, nShards)

  /** Line-level dedup: strip text segments shared by more than `maxDf`
    * documents (boilerplate removal, CCNet-style). */
  def stripBoilerplate(docs: DataFrame, maxDf: Int = 1): DataFrame =
    TextOps.lineDedup(docs, maxDf)

  /** Per-document tf-idf keywords. */
  def topTerms(docs: DataFrame, k: Int = 5): DataFrame = TextOps.topTerms(docs, k)

  /** Token-id encoding: frequency-ranked top-`vocabSize` vocabulary
    * (lexicographic tie-break), OOV = -1, per-doc id arrays in token
    * order plus `n_tokens`/`n_oov`. */
  def tokenize(docs: DataFrame, vocabSize: Int = 65536): DataFrame =
    TextOps.tokenizeEncode(docs, vocabSize)

  /** Fixed token-window chunking with overlap (RAG/context prep):
    * `(doc_id, chunk_id, n_tokens, text_chunk)`. */
  def chunk(docs: DataFrame, chunkTokens: Int, overlapTokens: Int = 0): DataFrame =
    TextOps.chunkDocuments(docs, chunkTokens, overlapTokens)

  /** Deterministic training-shard export (one shuffle, interleaved order). */
  def writeTrainingShards(docs: DataFrame, path: String, nShards: Int): Unit =
    TextOps.writeTrainingShards(docs, path, nShards)

  /** Per-document PII scrub: e-mail/phone/IPv4 detection counts plus
    * the redacted text — scan-local codegen regexes, map-only. */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame =
    TextOps.piiScrub(docs, textCol)

  // ---- format sinks (sharded, fully-headed, scale-parallel writes):
  // each writes `part-NNNNN<ext>` shards (append adds `-<token>`), and an
  // empty frame leaves one header-only `part-00000<ext>` (sources.ShardedSink).

  /** BAM sink: sharded BGZF `.bam` + `.gri` sidecar + standard `.bai`. */
  def writeBam(reads: DataFrame, path: String, overwrite: Boolean = true): Unit =
    sources.SourceUtil.writeBam(reads, path, overwrite)

  /** CRAM sink (reference-based against a faidx FASTA) + `.gci`.
    * `externalCompression = "cram31"` writes a CRAM 3.1 container whose
    * blocks ride the 3.1 methods (rANS Nx16 / arith / fqzcomp / name
    * tokeniser); the default profiles stay 3.0. */
  def writeCram(reads: DataFrame, path: String, fastaPath: String,
      recordsPerSlice: Int = 10000, embedReference: Boolean = false,
      externalCompression: String = "auto"): Unit =
    sources.SourceUtil.writeCram(reads, path, fastaPath, recordsPerSlice,
      embedReference, externalCompression)

  /** SAM text sink (typed MD/NM/RG + the tags map as optional fields). */
  def writeSam(reads: DataFrame, path: String, overwrite: Boolean = true): Unit =
    sources.SourceUtil.writeSam(reads, path, overwrite)

  /** VCF text sink; genotype sample columns inferred from the frame. */
  def writeVcf(variants: DataFrame, path: String,
      overwrite: Boolean = true): Unit =
    sources.VcfFormat.writeInferred(variants, path, overwrite)

  /** Scan-optimized parquet alignment layout (hive sample partitions +
    * position-sorted row groups). */
  def writeAligned(reads: DataFrame, path: String): Unit =
    sources.SourceUtil.writeAligned(reads, path)

  /** File-stream VCF ingest: tail a directory of `.vcf` shards with the
    * batch parser's exact expressions. */
  def vcfStream(path: String): DataFrame =
    streaming.StreamingOps.vcfStream(spark, path)

  /** File-stream SAM ingest (the alignment twin of [[vcfStream]]). */
  def samStream(path: String): DataFrame =
    streaming.StreamingOps.samStream(spark, path)

  def sql(text: String): DataFrame = spark.sql(text)

  /** Release ALL persistent RDD blocks in the context — the
    * operator-internal persists of the multi-consumer operators
    * (dedup/ANN/coverage, which cannot unpersist inside the operator:
    * the caller hasn't consumed the lazy result yet), but also any
    * caches and `localCheckpoint` blocks of frames you are still
    * holding, whose recomputation may then fail (checkpoints truncate
    * lineage). Call it between corpus-sized pipeline runs after
    * materializing what you need, as `Bench`/`Verify` do. Skipping it
    * is safe too: everything is MEMORY_AND_DISK and evicts under
    * memory pressure, nothing is pinned. */
  def clearOperatorCaches(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

object GraftSession {
  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)

  /** The local-mode session every tool and the test harness builds:
    * `cpus` worker threads and shuffle partitions, UTC, the engine
    * attached through the extensions conf. `events.parquet` may be
    * TIMESTAMP(NANOS), hence `nanosAsLong`. The two split-size confs are
    * local tuning for small parquet files: Spark's defaults (128 MB cap,
    * 4 MB open cost) give a 0.5-11 MB file only a few input partitions
    * and leave most cores idle in scan-bound stages; 2 MB / 512 KB split
    * the same files ~20 ways (measured at sf0.1 on 32 cores: coverage
    * blocks 2.1 -> 1.4 s, pileupMaps 3.2 -> 2.1 s). On a cluster, where
    * files are much larger than cores, the defaults are right. */
  def localBuilder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (512L << 10).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
}
