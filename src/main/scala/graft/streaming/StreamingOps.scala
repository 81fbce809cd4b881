package graft.streaming

import graft.operators.{CoverageOps, DedupOps, EmbeddingOps, TextOps}
import graft.plans.{BroadcastBudget, BroadcastProbe, CountProbe, IntervalProbe}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.SizeEstimator

import java.sql.Timestamp

/** Structured Streaming surface. The reference has no streaming at all
  * (SURVEY §2.8) — this is the beyond-reference layer: the same engine
  * semantics applied incrementally. All operators are watermark-correct,
  * so state is bounded and the plans scale to long-running jobs:
  * windowed aggregation state expires with the watermark, streaming dedup
  * keeps only in-watermark fingerprints, and the per-contig coverage
  * progress keeps O(contigs) state.
  */
object StreamingOps {

  /** Hourly windowed event stats with a 2h watermark — the streaming
    * analogue of the batch `events_hourly` query. */
  def hourlyEventStats(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup: drop documents whose normalized-text
    * fingerprint was already seen within the watermark (the incremental
    * form of DedupOps.exactDupGroups, with bounded state). */
  def dedupStream(docs: DataFrame): DataFrame =
    docs.withColumn("fingerprint", TextOps.fingerprint(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming curation: the full intake gate a live ingest pipeline
    * runs per document — dedup within the watermark, quality + language
    * gate, then the deterministic hash-grid split label. Everything
    * downstream of the dedup is a stateless codegen'd projection/filter
    * ([[TextOps]] columns are engine-agnostic), so the only streaming
    * state is the watermark-bounded fingerprint set. */
  def curateStream(docs: DataFrame, minQuality: Double = 0.5, lang: String = "en"): DataFrame =
    TextOps.assignSplits(
      dedupStream(docs)
        .withColumn("quality_score", TextOps.qualityScore(col("text")))
        .withColumn("lang_guess", TextOps.langGuess(col("text")))
        .filter(col("quality_score") >= minQuality && col("lang_guess") === lang))
      .select(col("doc_id"), col("quality_score"), col("split"))

  /** Streaming NEAR-dup gate against a static base corpus: every arriving
    * document gets a verdict row `(doc_id, ts, is_dup, dup_of, jaccard)` —
    * `is_dup` when some base document's exact word-shingle Jaccard reaches
    * `threshold`, `dup_of` the best-matching base id (-1 when none). The
    * incremental form of [[graft.operators.DedupOps.crossDupPairs]]: a new
    * crawl streaming in is checked AGAINST the accepted corpus.
    *
    * Shape: both sides go through one row function, [[gateRows]]
    * (`text` → band keys + sorted shingle hashes, the batch kernels'
    * expressions). The base side is collected in ONE Spark job — nothing
    * is persisted, nothing shuffles — and laid out on the driver as a
    * flat-array [[GateIndex]] (packed shingle hashes, sorted distinct band
    * keys with their base ordinals), which is broadcast. The base is held
    * to the [[BroadcastBudget]] twice: its Catalyst estimate before the collect,
    * and the index's laid-out bytes after it (the runtime guard). For a
    * base corpus beyond it, run the batch crossDupPairs shuffle join
    * instead. Each stream doc then probes the index in ONE stateless
    * pass: band keys → binary search → candidate base ordinals → exact
    * merge-scan Jaccard. Zero streaming state, no watermark requirement —
    * per-doc cost is O(shingles + candidates·set size) regardless of
    * stream length. */
  def dedupGateStream(docs: DataFrame, base: DataFrame, threshold: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val advice = "its shingle index is collected and broadcast. Dedup against a corpus " +
      "this size with the batch DedupOps.crossDupPairs instead, or raise the conf if the " +
      "driver can hold it."
    BroadcastBudget.requireFits(base, "dedupGateStream base corpus", advice)
    val index = GateIndex(gateRows(base).as[(Long, Array[Long], Array[Long])].collect())
    BroadcastBudget.checkCollected(index.bytes, "dedupGateStream base index", advice,
      spark.sessionState.conf)
    val bc = spark.sparkContext.broadcast(index)
    gateRows(docs, "ts").as[(Long, Timestamp, Array[Long], Array[Long])]
      .map { case (id, ts, bands, sth) =>
        val (bestId, bestJ) = bc.value.best(bands, sth)
        val dup = bestJ >= threshold
        (id, ts, dup, if (dup) bestId else -1L, bestJ)
      }
      .toDF("doc_id", "ts", "is_dup", "dup_of", "jaccard")
  }

  private val minhashSigUdf = udf((st: Seq[String]) => DedupOps.minhashSig(st))

  /** `(doc_id, carry..., bands, sth)` — the gate's per-document row: the
    * 64 MinHash band keys and the sorted xxhash64 shingle hashes of
    * `text`, from the batch index's shingle expressions, signature kernel
    * and band-key expression, so base and stream hash identically. */
  private def gateRows(docs: DataFrame, carry: String*): DataFrame = {
    val keep = "doc_id" +: carry
    DedupOps.withShingles(docs, keep)
      .select(keep.map(col) ++ Seq(minhashSigUdf(col("st")).as("sig"),
        array_sort(transform(col("st"), s => xxhash64(s))).as("sth")): _*)
      .select(keep.map(col) ++ Seq(DedupOps.bandKeysArray.as("bands"), col("sth")): _*)
  }

  /** Streaming similarity search: every arriving embedding row
    * `(vec_id, ts, embedding)` gets its top-`k` cosine neighbors from a
    * STATIC corpus — streaming retrieval, the ANN analogue of
    * [[dedupGateStream]]. The corpus is collected (size-gated against
    * the broadcast budget, same pattern) and probed per row in one
    * stateless pass: no streaming state, no watermark, nothing shuffles.
    * Output: `(vec_id, ts, rank, neighbor_id, sim)`, rank 1..k by
    * descending cosine (ties by ascending neighbor id — the batch
    * [[graft.operators.EmbeddingOps.exactTopK]] order); self-matches by
    * id are excluded like the batch op. Cosine runs in double precision
    * in sequential index order — the same arithmetic as the batch
    * [[graft.functions.CosineSimilarity]] expression. */
  def similarStream(vecs: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be positive, got $k")
    val advice = "it is collected and broadcast. Use the batch EmbeddingOps paths " +
      "(IVF/LSH/quantized) for a corpus this size, or raise the conf if the driver can hold it."
    BroadcastBudget.requireFits(corpus, "similarStream corpus", advice)
    val base: Array[(Long, Array[Double])] = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (i, e) => (i, e.toArray) }
    BroadcastBudget.checkCollected(SizeEstimator.estimate(base), "similarStream corpus", advice,
      spark.sessionState.conf)
    val bc = spark.sparkContext.broadcast(base)
    vecs
      .select(col("vec_id"), col("ts"), col("embedding").cast("array<double>"))
      .as[(Long, Timestamp, Seq[Double])]
      .flatMap { case (id, ts, emb) =>
        val q = emb.toArray
        var qn = 0.0
        var i = 0
        while (i < q.length) { qn += q(i) * q(i); i += 1 }
        // Bounded top-k: scan the broadcast corpus, keep the k best.
        val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (s, c) => (-s, c) })
        bc.value.foreach { case (cid, ce) =>
          // Dimension-mismatched candidates are skipped (silently
          // truncating the dot product would rank them on garbage), and
          // zero-norm vectors on either side are skipped rather than
          // producing a NaN sim — NaN's unspecified heap ordering could
          // displace real neighbors.
          if (cid != id && ce.length == q.length) {
            var dot = 0.0
            var cn = 0.0
            var j = 0
            while (j < q.length) { dot += q(j) * ce(j); cn += ce(j) * ce(j); j += 1 }
            val denom = math.sqrt(qn) * math.sqrt(cn)
            if (denom > 0) {
              heap.enqueue((dot / denom, cid))
              if (heap.size > k) heap.dequeue()
            }
          }
        }
        val best: Seq[(Double, Long)] = heap.dequeueAll.reverse
        best.iterator.zipWithIndex.map { case ((s, cid), r) => (id, ts, r + 1, cid, s) }
      }
      .toDF("vec_id", "ts", "rank", "neighbor_id", "sim")
  }

  /** Per-partition bounded top-k per query over `(q, payload, score,
    * candidate)` rows — the shared kernel of every streaming ANN stage
    * (r15 review: this block existed as near-identical copies). Keeps
    * the `bound` best by (score desc, candidate asc) per query — the
    * batch window's exact order — skipping NaN scores (zero-norm
    * degenerates; the batch paths filter the same way). `dedupById`
    * drops duplicate candidate ids on qualifying inserts: soft IVF
    * assignment can surface the same (q, c) pair from more than one
    * shared list with an IDENTICAL score, so the O(bound) containment
    * scan is exact dedup, not unbounded state. Survivors emit
    * BEST-first. */
  private def heapTopKPerQuery[P](it: Iterator[(Long, P, Double, Long)],
      bound: Int, dedupById: Boolean): Iterator[(Long, P, Seq[(Double, Long)])] = {
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
      case (s, c) => (-s, c)
    }
    val heaps = scala.collection.mutable.HashMap
      .empty[Long, (P, scala.collection.mutable.PriorityQueue[(Double, Long)])]
    it.foreach { case (q, p, score, cid) =>
      if (!score.isNaN) {
        val (_, h) = heaps.getOrElseUpdate(q,
          (p, scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)))
        if (h.size < bound) {
          if (!dedupById || !h.exists(_._2 == cid)) h.enqueue((score, cid))
        } else if (worstFirst.lt((score, cid), h.head) &&
            (!dedupById || !h.exists(_._2 == cid))) {
          h.dequeue(); h.enqueue((score, cid))
        }
      }
    }
    heaps.iterator.map { case (q, (p, h)) => (q, p, h.dequeueAll.reverse.toSeq) }
  }

  /** Streaming ANN serve from a persisted IVF index
    * ([[graft.operators.EmbeddingOps.saveIndex]] artifacts): each
    * micro-batch of query vectors is assigned to its `nProbe` nearest
    * lists against the BROADCAST quantizer (model-sized — the only
    * driver-resident piece), candidates come from stream-static joins
    * against the distributed assignment and corpus tables, and the
    * per-batch exact top-k is a hash exchange on the query id plus a
    * bounded per-partition heap — append-mode safe, no stateful
    * aggregation, no watermark needed (every query is answered within
    * its own batch).
    *
    * This removes [[similarStream]]'s whole-corpus broadcast gate: the
    * corpus never converges on the driver, so the streaming serve path
    * scales with the same ~replicas·nProbe/nLists probe fraction as the
    * batch [[graft.operators.EmbeddingOps.ivfTopKWith]]. Results match
    * the batch path exactly for the same artifacts (spec-asserted):
    * same candidate lists, same (sim desc, id asc) tie-break. */
  def similarStreamIvf(vecs: DataFrame, indexPath: String, corpus: DataFrame,
      k: Int, nProbe: Int = 6): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be positive, got $k")
    val (centroids, assigned) = EmbeddingOps.loadIndex(spark, indexPath)
    val bc = spark.sparkContext.broadcast(centroids)
    // Probe assignment carries the query embedding along so the sim
    // projection needs no second join back to the stream.
    val probes = vecs
      .select(col("vec_id"), col("ts"), col("embedding").cast("array<double>"))
      .as[(Long, Timestamp, Seq[Double])]
      .flatMap { case (id, ts, emb) =>
        EmbeddingOps.nearestLists(emb.toArray, bc.value, nProbe)
          .map(li => (id, ts, emb, li))
      }.toDF("q_id", "ts", "q_emb", "list")
    val ce = corpus.select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("c_emb"))
    val cands = probes
      .join(assigned.select(col("c_id"), col("list")), "list") // stream-static
      .filter(col("q_id") =!= col("c_id"))
      .join(ce, "c_id")                                        // stream-static
      .select(col("q_id"), col("ts"),
        EmbeddingOps.cosine(col("q_emb"), col("c_emb")).as("sim"), col("c_id"))
    // Hash exchange on q_id co-locates each query's candidates; the
    // shared heap kernel mirrors the batch window's (sim desc, id asc)
    // so stream == batch row for row, deduping soft-assignment replicas.
    cands.repartition(col("q_id"))
      .as[(Long, Timestamp, Double, Long)]
      .mapPartitions { it =>
        heapTopKPerQuery(it, k, dedupById = true).flatMap { case (q, ts, best) =>
          best.iterator.zipWithIndex.map {
            case ((s, cid), r) => (q, ts, r + 1, cid, s)
          }
        }
      }.toDF("vec_id", "ts", "rank", "neighbor_id", "sim")
  }

  /** Streaming ANN serve from persisted IVF + PQ artifacts — the
    * composed production shape on a stream: the broadcast IVF quantizer
    * assigns each micro-batch query to its `nProbe` lists AND the
    * broadcast PQ codebooks give it an ADC lookup table (both
    * model-sized — the only driver-resident pieces); candidates come
    * from stream-static EQUI-joins (probed lists, then the encoded
    * corpus's m-int codes), the ADC prune keeps the top `k·rerankFactor`
    * per query through a hash exchange + bounded heap, and only that
    * pool's full vectors are touched for the exact re-rank (a second
    * equi-join + bounded heap). Append-mode safe, no stateful
    * aggregation; per-batch cost is probe-fraction × m bytes/vector for
    * the scan plus pool-sized exact work — the same multiplied
    * reductions as the batch [[EmbeddingOps.ivfPqTopKWith]], whose
    * results this matches row for row for the same artifacts
    * (spec-asserted). */
  def similarStreamIvfPq(vecs: DataFrame, ivfIndexPath: String,
      pqIndexPath: String, corpus: DataFrame, k: Int, nProbe: Int = 6,
      rerankFactor: Int = 8): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be positive, got $k")
    val (centroids, assigned) = EmbeddingOps.loadIndex(spark, ivfIndexPath)
    val (books, encoded) = EmbeddingOps.loadPqIndex(spark, pqIndexPath)
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcB = spark.sparkContext.broadcast(books)
    // Probe rows carry the query embedding (for the exact stage) and its
    // ADC table (for the candidate scan) — both per-query-sized.
    val probes = vecs
      .select(col("vec_id"), col("ts"), col("embedding").cast("array<double>"))
      .as[(Long, Timestamp, Seq[Double])]
      .flatMap { case (id, ts, emb) =>
        val v = emb.toArray
        val adc = EmbeddingOps.pqAdcTable(v, bcB.value)
        EmbeddingOps.nearestLists(v, bcC.value, nProbe)
          .map(li => (id, ts, emb, adc, li))
      }.toDF("q_id", "ts", "q_emb", "adc", "list")
    val cands = probes
      .join(assigned.select(col("c_id"), col("list")), "list") // stream-static
      .filter(col("q_id") =!= col("c_id"))
      .join(encoded, "c_id")                                   // stream-static
      .select(col("q_id"), col("ts"), col("q_emb"), col("c_id"),
        EmbeddingOps.pqScore.as("ascore"))
    // ADC pool: hash exchange on q_id + the shared heap kernel = the
    // batch window's (ascore desc, c_id asc) top k·factor, deduping
    // soft-assignment replicas.
    val poolSize = k * rerankFactor
    val pool = cands.repartition(col("q_id"))
      .as[(Long, Timestamp, Seq[Double], Long, Double)]
      .mapPartitions { it =>
        heapTopKPerQuery(
          it.map { case (q, ts, qe, cid, ascore) => (q, (ts, qe), ascore, cid) },
          poolSize, dedupById = true)
          .flatMap { case (q, (ts, qe), best) =>
            best.iterator.map { case (_, cid) => (q, ts, qe, cid) }
          }
      }.toDF("q_id", "ts", "q_emb", "c_id")
    // Exact re-rank of the pool only (the batch rerankTopK mirror: NaN
    // degenerates filtered, (sim desc, c_id asc) rank).
    val ce = corpus.select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("c_emb"))
    pool.join(ce, "c_id") // stream-static
      .select(col("q_id"), col("ts"),
        EmbeddingOps.cosine(col("q_emb"), col("c_emb")).as("sim"), col("c_id"))
      .repartition(col("q_id"))
      .as[(Long, Timestamp, Double, Long)]
      .mapPartitions { it =>
        // Pool rows are already unique per (q, c) — no dedup needed.
        heapTopKPerQuery(it, k, dedupById = false).flatMap { case (q, ts, best) =>
          best.iterator.zipWithIndex.map {
            case ((s, cid), r) => (q, ts, r + 1, cid, s)
          }
        }
      }.toDF("vec_id", "ts", "rank", "neighbor_id", "sim")
  }

  case class StreamRead(contig: String, pos_start: Int, pos_end: Int, ts: Timestamp)
  case class ContigProgress(contig: String, n_reads: Long, min_pos: Int, max_pos: Int, covered_span: Long)

  /** File-stream VCF ingest: watch a directory (or glob) for `.vcf`
    * shards and parse arriving files with the EXACT expressions the
    * batch [[graft.sources.VcfSource]] relation uses — the sequencing-
    * output-directory pattern (variants land as files, the pipeline
    * tails them). Genotype sample columns AND typed `info_<ID>` columns
    * come from the existing files' headers (memoized driver header reads
    * at stream start; later files must declare the same samples, the
    * parquet-append contract). Compose with
    * [[annotateStream]]/[[countStream]] for stream-static annotation. */
  def vcfStream(spark: org.apache.spark.sql.SparkSession,
      path: String, typedGenotypes: Boolean = false): DataFrame = {
    val meta = graft.sources.VcfFormat.headerMeta(spark, path)
    val parsed = graft.sources.VcfFormat.parse(spark.readStream.text(path), meta)
    if (!typedGenotypes) parsed
    else {
      require(meta.samples.nonEmpty,
        s"vcfStream: typedGenotypes requires #CHROM sample columns at '$path'")
      // The same header-driven struct column the batch relation's
      // `genotypes 'typed'` option builds — micro-batches parse with the
      // batch expressions, so the two surfaces cannot drift.
      parsed.withColumn("genotypes",
        graft.sources.VcfFormat.genotypesColumn(meta))
    }
  }

  /** File-stream SAM ingest — the alignment twin of [[vcfStream]]:
    * tail a directory of `.sam` shards (an aligner's output directory)
    * with the batch [[graft.sources.SamSource]] relation's exact parse
    * expressions; sample ids derive from arriving file names (S7).
    * Compose with [[annotateStream]]/[[countStream]]/[[coverageStream]]
    * downstream. */
  def samStream(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.sources.SamFormat.parse(
      spark.readStream.text(path).withColumn("_file", input_file_name()))

  /** File-stream BAM ingest — the BINARY twin of [[samStream]],
    * completing the file-stream matrix (r15 VERDICT #7): tail a
    * directory of `.bam` shards with the `binaryFile` stream source
    * (each arriving shard is a complete BGZF BAM — exactly what the
    * sharded [[graft.sources.SourceUtil.writeBam]] sink emits per task)
    * and decode each with the batch codec
    * ([[graft.sources.BamFormat.BamReader]]), so the streaming and
    * batch surfaces share ONE binary walk and cannot drift: identical
    * CIGAR-derived `pos_end`, Phred+33 `qual_str` (0xFF sentinel →
    * null), cleaned contig names, and the S7 sample-id-from-filename
    * rule. Memory per task is bounded by shard size (an aligner's
    * streaming shards are micro-batch sized by construction;
    * `spark.sql.sources.binaryFile.maxLength` backstops the
    * pathological case loudly). Emits the batch scan's core columns;
    * compose with [[annotateStream]]/[[countStream]]/
    * [[coverageStream]] downstream. */
  def bamStream(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    // binaryFile's schema is fixed by the source but file streams still
    // demand it explicitly (no inference pass against an empty dir).
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.bam").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val reader = new graft.sources.BamFormat.BamReader(
          new java.io.ByteArrayInputStream(bytes))
        val cleaned = reader.header.refNames
          .map(graft.functions.RangeFunctions.cleanContig)
        Iterator.continually(reader.next()).takeWhile(_.isDefined).map { o =>
          val r = o.get
          val qual =
            if (r.quals == null || r.quals.isEmpty || r.quals(0) == 0xff.toByte) null
            else {
              val b = new Array[Byte](r.quals.length)
              var j = 0
              while (j < b.length) { b(j) = (r.quals(j) + 33).toByte; j += 1 }
              new String(b, java.nio.charset.StandardCharsets.US_ASCII)
            }
          (p, r.qname, r.flag,
            if (r.refId >= 0 && r.refId < cleaned.length) cleaned(r.refId) else null,
            r.pos0 + 1, r.pos0 + 1 + math.max(r.refConsumed, 1) - 1,
            r.mapq, r.cigar, r.seq, qual,
            Option(r.mdTag).orNull,
            Option(r.tagNm).map(_.intValue): Option[Int],
            Option(r.tagRg).orNull)
        }
      }
      .toDF("_path", "qname", "flag", "contig", "pos_start", "pos_end",
        "mapq", "cigar", "seq", "qual_str", "md_tag", "tag_NM", "tag_RG")
      .select(
        graft.sources.SourceUtil.sampleIdFromPath(col("_path")).as("sample_id"),
        col("qname"), col("flag"), col("contig"), col("pos_start"),
        col("pos_end"), col("mapq"), col("cigar"), col("seq"),
        col("qual_str"), col("md_tag"), col("tag_NM"), col("tag_RG"))
  }

  /** Stream-static interval join: annotate a stream of reads with every
    * overlapping target from a *static* annotation table — the natural
    * fusion of the engine's two layers (no reference analogue). It is the
    * join expression `reads.join(targets, contig = contig AND overlap)`:
    * [[graft.plans.IntervalJoinStrategy]] plans it as the batch broadcast
    * forest join with the stream as the stream side, so each micro-batch
    * broadcasts the static side again (Spark's stream-static contract) and
    * probes it in place: no stream state, no watermark requirement, the
    * unbounded side never shuffles. Inner-join semantics (reads with no
    * overlapping target are dropped); targets need (contig, pos_start,
    * pos_end, name) columns.
    *
    * The static side is size-gated by the SAME [[BroadcastBudget]] the
    * batch strategy uses: its estimate when the frame is defined, the
    * broadcast rows' bytes before any task of a micro-batch runs (r3
    * verdict finding #1). */
  def annotateStream(reads: Dataset[StreamRead], targets: DataFrame): DataFrame = {
    BroadcastBudget.requireFits(targets, "annotateStream static side", staticAdvice)
    val t = targets.select(col("contig").cast("string").as("_tc"),
      col("pos_start").cast("int").as("_ts"), col("pos_end").cast("int").as("_te"),
      col("name").cast("string").as("target_name"))
    reads.toDF().join(t, col("contig") === col("_tc") && graft.functions.IntervalOverlaps.of(
        col("pos_start"), col("pos_end"), col("_ts"), col("_te")))
      .select(col("contig"), col("pos_start"), col("pos_end"), col("ts"), col("target_name"))
  }

  private val staticAdvice = "it is broadcast to every task. Filter or project the " +
    "annotation table down, or raise the budget if the cluster can hold the broadcast."

  /** Stream-static COUNT annotate: each stream read gets the NUMBER of
    * overlapping static features — the streaming face of the batch
    * aggregate pushdown ([[graft.plans.IntervalCountJoinExec]]). A
    * [[graft.plans.BroadcastProbe]]: the static side reaches every task
    * through Spark's broadcast exchange, again in each micro-batch, and
    * each JVM folds it into one [[graft.plans.CountRankIndex]] per contig,
    * the batch count joins' core; each read is its one-bin probe:
    * `#overlaps = #(starts <= qe) − #(ends < qs)`, two binary searches —
    * O(log n) no matter how many features overlap, no pair rows ever, no
    * forest walk, no state, no watermark; the unbounded side never
    * shuffles. Reads with zero overlaps (or on absent contigs) drop —
    * inner `GROUP BY read` semantics, matching the batch pushdown's
    * stream-grouped direction. Inverted (start > end) rows are dropped on
    * both sides, the rank identity's well-formedness contract. The static
    * side is held to the budget as in [[annotateStream]]. */
  def countStream(reads: Dataset[StreamRead], targets: DataFrame): DataFrame = {
    BroadcastBudget.requireFits(targets, "countStream static side", staticAdvice)
    val l = reads.toDF().queryExecution.analyzed
    val r = targets.select(col("contig"), col("pos_start"), col("pos_end")).queryExecution.analyzed
    ColumnBridge.frame(graft.Graft.ensure(reads.sparkSession), BroadcastProbe(l, r,
      CountProbe(IntervalProbe.columns(l.output), IntervalProbe.columns(r.output),
        AttributeReference("n_overlaps", LongType, nullable = false)()), enforceBudget = true))
  }

  /** Stream-static NEAREST join: annotate a stream of reads with every
    * static feature at the minimum genomic distance (bedtools-closest
    * semantics — 0 on overlap, all ties emit, reads on contigs absent
    * from the static side drop), the streaming face of
    * [[graft.operators.NearestJoinOps]]. Nearest is nearest-k at k = 1. */
  def nearestStream(reads: Dataset[StreamRead], targets: DataFrame): DataFrame =
    nearestKStream(reads, targets, 1)

  /** Stream-static K-NEAREST join: every stream read pairs with the static
    * features at the k smallest distinct distances (all ties emit). It is
    * [[graft.operators.NearestJoinOps.nearestKJoin]] over the stream, whose
    * one regime there is the broadcast probe: the static side is
    * broadcast again in each micro-batch and each JVM builds its
    * per-contig forest once, whose k-nearest probe runs in O(log n +
    * output); no state store, no watermark needed, the unbounded side
    * never shuffles. The static side is held to the budget as in
    * [[annotateStream]]. */
  def nearestKStream(reads: Dataset[StreamRead], targets: DataFrame, k: Int): DataFrame =
    graft.operators.NearestJoinOps.nearestKJoin(reads.toDF(), targets.select(col("contig"),
        col("pos_start"), col("pos_end"), col("name").cast("string").as("target_name")), k)
      .toDF("contig", "pos_start", "pos_end", "ts", "_c", "_s", "_e", "target_name", "distance")
      .drop("_c", "_s", "_e")

  /** Stream-stream interval join: pair two unbounded read streams on
    * overlapping genomic intervals within an event-time band — e.g.
    * reads from two sequencers over the same region, or calls vs
    * real-time annotations. Delegated entirely to Spark's watermarked
    * stream-stream join machinery: the equality key (contig) drives
    * state partitioning, the interval overlap is the non-equi residual,
    * and the event-time band (`right.ts` within ±`band` of `left.ts`)
    * plus both watermarks lets the state store evict rows — without the
    * time bound, stream-stream join state grows forever. State per
    * executor is O(rows in the time band of its contig partitions),
    * independent of stream length — the property that lets this run
    * indefinitely (pinned by StreamingSpec's bounded-state test).
    *
    * The overlap residual is deliberately the single-conjunct
    * `greatest(starts) <= least(ends)` form, not the two-conjunct
    * `l.end >= r.start && l.start <= r.end`: Spark's
    * `StreamingJoinHelper` inspects every cross-stream comparison
    * conjunct for a state-cleanup constraint, and a conjunct with ONE
    * attribute per side reaches the constant-term eval, which throws
    * `Cannot evaluate expression: pos_start` and logs an INTERNAL_ERROR
    * warning every micro-batch (r6 VERDICT #2). A conjunct with two
    * attributes on a side is skipped silently (the helper's
    * more-than-one-attribute early return), so this form yields the same
    * join with the same band-derived state eviction and clean logs.
    *
    * Degenerate rows (`pos_start > pos_end`): the two forms differ there —
    * the two-conjunct batch convention can still match a containing
    * interval, this single-conjunct form never matches one (r7 ADVICE).
    * `StreamRead` ingestion is expected to deliver normalized
    * `pos_start <= pos_end` rows (TESTDATA.md events are); feed
    * un-normalized intervals through a `least/greatest` swap upstream if
    * the source can produce them, or batch and streaming disagree. */
  def joinStreams(left: Dataset[StreamRead], right: Dataset[StreamRead],
      watermark: String = "2 hours", band: String = "1 hour"): DataFrame = {
    val l = left.toDF().withWatermark("ts", watermark).alias("l")
    val r = right.toDF().withWatermark("ts", watermark).alias("r")
    l.join(r,
      col("l.contig") === col("r.contig") &&
      greatest(col("l.pos_start"), col("r.pos_start")) <=
        least(col("l.pos_end"), col("r.pos_end")) &&
      col("r.ts") >= col("l.ts") - expr(s"INTERVAL $band") &&
      col("r.ts") <= col("l.ts") + expr(s"INTERVAL $band"))
      .select(col("l.contig").as("contig"),
        col("l.pos_start").as("l_start"), col("l.pos_end").as("l_end"),
        col("r.pos_start").as("r_start"), col("r.pos_end").as("r_end"),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  /** Streaming windowed coverage: mean depth per (event-time window,
    * contig, tile) over the reads arriving in each window — the
    * incremental analogue of [[CoverageOps.windowed]], through the same
    * tile fan-out ([[CoverageOps.tileOverlaps]]): each read contributes
    * its overlap with every `windowSize`-bp tile it spans (fan-out = read
    * length / windowSize, small and bounded), then a standard watermarked
    * aggregation sums contributions — state is per (window, contig, tile)
    * and expires with the watermark, so the job runs indefinitely.
    * Nothing ever explodes to per-base rows. */
  def windowedCoverageStream(reads: Dataset[StreamRead], windowSize: Int,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    CoverageOps.tileOverlaps(
        reads.toDF().withWatermark("ts", watermark), windowSize, Seq("ts"))
      .groupBy(window(col("ts"), window_), col("contig"), col("tile"))
      .agg((sum(col("contrib")) / lit(windowSize.toDouble)).as("mean_coverage"))
      .select(col("window.start").as("window_start"),
        col("contig"), col("tile"), col("mean_coverage"))

  /** Streaming gap sessionization — the incremental analogue of the
    * batch `events_sessionize` query: per-user sessions close after
    * `gap` of event-time inactivity, via Spark's native
    * `session_window` aggregation. State is one open window per
    * (user, session) and expires once the watermark passes the
    * session's close — bounded regardless of stream length. Emits on
    * session close (append mode), the natural output for downstream
    * training-data or analytics sinks. */
  def sessionizeStream(events: DataFrame, gap: String = "8 hours",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("session_value"))

  /** Stateful per-contig ingest progress via mapGroupsWithState: running
    * read count and position envelope. The custom-state hook a full
    * incremental event-array coverage would extend. */
  def contigProgress(reads: Dataset[StreamRead]): Dataset[ContigProgress] = {
    val spark = reads.sparkSession
    import spark.implicits._
    reads.groupByKey(_.contig)
      .mapGroupsWithState[ContigProgress, ContigProgress](GroupStateTimeout.NoTimeout) {
        (contig: String, batch: Iterator[StreamRead], state: GroupState[ContigProgress]) =>
          val prev = state.getOption.getOrElse(ContigProgress(contig, 0L, Int.MaxValue, Int.MinValue, 0L))
          var n = prev.n_reads
          var lo = prev.min_pos
          var hi = prev.max_pos
          var span = prev.covered_span
          batch.foreach { r =>
            n += 1
            lo = math.min(lo, r.pos_start)
            hi = math.max(hi, r.pos_end)
            span += (r.pos_end - r.pos_start + 1).toLong
          }
          val next = ContigProgress(contig, n, lo, hi, span)
          state.update(next)
          next
      }
  }
}
