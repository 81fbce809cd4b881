package graft.tools

import graft.Graft
import graft.operators.CoverageOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Empirical scale probe for the flagship families (r15 VERDICT #1):
  * the featureCounts-shaped interval count join (both physical regimes),
  * RLE coverage and the merge-regime nearest-k join, at synthetic sizes
  * two orders of magnitude above the bench fixtures (~50M reads × 1M
  * annotation intervals by default).
  *
  * The probe measures what SCALE.md argues:
  *  - **core scaling**: run once per `local[N]` (one JVM per N — the
  *    shell loop below), same FIXED input split count, shuffle
  *    partitions tracking cores; near-linear wall-time scaling for the
  *    event-sweep coverage is the SeQuiLa-cov published shape.
  *  - **bounded driver state**: peak JVM heap sampled through each probe
  *    (in local mode this bounds driver + all executor threads
  *    together, so it is an OVER-estimate of driver state), plus the
  *    `buildRows` metric — the forest is O(annotations), never
  *    O(reads) or O(pairs).
  *  - **zero pair materialization**: the count path's `pairCount` SQL
  *    metric counts overlap pairs ARITHMETICALLY; the probe reports it
  *    against the stage-aggregated shuffle RECORDS actually moved —
  *    at the default sizes pairs outnumber shuffled records by >100×.
  *
  * Usage (one JVM per core count; `run / fork := true` keeps it clean):
  * {{{
  * for c in 8 16 32; do
  *   SPARK_DRIVER_MEM=24g sbt -batch "runMain graft.tools.ScaleProbe $c"
  * done   # last stdout line of each = one JSON object
  * }}}
  * [[graft.ScaleProbeSpec]] runs the same probes at gate size and
  * asserts the invariants (plan shape, pair-free counting, bounded
  * build); this main exists to measure the big numbers for SCALE.md.
  */
object ScaleProbe {

  /** Stage-aggregated shuffle totals and the job count. Registered once
    * per session; the runner snapshots-and-resets around each probe
    * (stages complete asynchronously, so the runner sleeps briefly before
    * reading). */
  final class StageTotals extends SparkListener {
    private var swBytes = 0L; private var swRecords = 0L
    private var srBytes = 0L; private var srRecords = 0L
    private var stages = 0
    private var jobs = 0
    override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          swBytes += m.shuffleWriteMetrics.bytesWritten
          swRecords += m.shuffleWriteMetrics.recordsWritten
          srBytes += m.shuffleReadMetrics.totalBytesRead
          srRecords += m.shuffleReadMetrics.recordsRead
          stages += 1
        }
      }
    def reset(): Unit = synchronized {
      swBytes = 0L; swRecords = 0L; srBytes = 0L; srRecords = 0L; stages = 0; jobs = 0
    }
    def snapshot(): Map[String, Long] = synchronized {
      Map("shuffle_write_bytes" -> swBytes, "shuffle_write_records" -> swRecords,
        "shuffle_read_bytes" -> srBytes, "shuffle_read_records" -> srRecords,
        "stages" -> stages.toLong, "jobs" -> jobs.toLong)
    }
  }

  /** 20 ms heap sampler — peak used JVM heap over a probe. */
  private final class HeapPeak extends Thread {
    @volatile var running = true
    @volatile var peak = 0L
    setDaemon(true)
    override def run(): Unit = while (running) {
      val rt = Runtime.getRuntime
      val used = rt.totalMemory() - rt.freeMemory()
      if (used > peak) peak = used
      Thread.sleep(20)
    }
  }

  case class ProbeResult(name: String, sec: Double, rows: Long,
      peakHeapMb: Long, shuffle: Map[String, Long], extra: Map[String, Long])

  /** Synthetic reads: deterministic multiplicative-hash spread over a
    * `genome`-base coordinate space, 50–150 bp, every 5th read spliced
    * (`aMbNcM`). Pure column arithmetic from `spark.range` — no I/O, no
    * skew, so the probe times the OPERATOR, not a scan. Fixed split
    * count keeps the work identical across core counts. */
  def synthReads(spark: SparkSession, n: Long, contigs: Int, genome: Int,
      parts: Int, withCigar: Boolean): DataFrame = {
    val base = spark.range(0, n, 1, parts).selectExpr(
      s"CAST(id % $contigs AS STRING) AS contig",
      s"CAST((id * 2654435761) % ($genome - 400) + 1 AS INT) AS pos_start",
      "CAST(50 + id % 101 AS INT) AS len",
      "id % 5 = 0 AS spliced")
    val withEnd = base.selectExpr("contig", "pos_start",
      "CAST(pos_start + len - 1 AS INT) AS pos_end", "len", "spliced")
    if (!withCigar) withEnd.select("contig", "pos_start", "pos_end")
    else withEnd.selectExpr("contig", "pos_start", "pos_end",
      """CASE WHEN spliced THEN concat(CAST(len div 3 AS STRING), 'M',
        |  CAST(len div 3 AS STRING), 'N',
        |  CAST(len - 2 * (len div 3) AS STRING), 'M')
        |ELSE concat(CAST(len AS STRING), 'M') END AS cigar""".stripMargin)
  }

  /** Synthetic annotations: per-contig overlapping tiles of `annotLen`
    * bases stepping `genome·contigs/n` — every read overlaps ~2–3
    * annotations, so 50M reads × 1M annotations ⇒ ~10⁸ overlap pairs
    * (the quantity the count path must NOT materialize). */
  def synthAnnots(spark: SparkSession, n: Long, contigs: Int, genome: Int,
      annotLen: Int, parts: Int): DataFrame = {
    val step = math.max(1L, genome.toLong * contigs / n)
    spark.range(0, n, 1, parts).selectExpr(
      "id AS b_key",
      s"CAST(id % $contigs AS STRING) AS contig",
      s"CAST((id div $contigs) * $step % ($genome - $annotLen) + 1 AS INT) AS pos_start")
      .selectExpr("b_key", "contig", "pos_start",
        s"CAST(pos_start + $annotLen - 1 AS INT) AS pos_end")
  }

  /** featureCounts shape: reads × annotations overlap join, count per
    * annotation. `method` "" lets stats pick (broadcast at these sizes);
    * "binrange" pins the shuffle regime. */
  def countJoin(reads: DataFrame, annots: DataFrame, method: String): DataFrame =
    reads.join(annots, reads("contig") === annots("contig") &&
        graft.functions.IntervalOverlaps.of(
          reads("pos_start"), reads("pos_end"),
          annots("pos_start"), annots("pos_end"), 1, 0, method))
      .groupBy(annots("b_key")).agg(count(lit(1)).as("n_reads"))

  private def leaves(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(leaves)
  }

  /** The one count-join exec in an executed plan, with its SQL metrics
    * (`pairCount` = overlap pairs counted arithmetically, `buildRows` =
    * driver-resident forest size). Fails loudly when the expected regime
    * did not plan — a probe that silently measured the general
    * pair-materializing join would be a lie. */
  def countJoinMetrics(df: DataFrame, expectBinRange: Boolean): Map[String, Long] = {
    val plan = df.queryExecution.executedPlan
    val nodes = leaves(plan)
    val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
      if (expectBinRange)
        nodes.collectFirst { case e: graft.plans.IntervalBinCountJoinExec => e.metrics }
          .getOrElse(sys.error(s"no IntervalBinCountJoinExec in:\n$plan"))
      else
        nodes.collectFirst { case e: graft.plans.IntervalCountJoinExec => e.metrics }
          .getOrElse(sys.error(s"no IntervalCountJoinExec in:\n$plan"))
    metrics.collect { case (k, m) if Set("pairCount", "buildRows")(k) =>
      k -> m.value
    }
  }

  /** GC to a clean baseline, run `build().count()` with the heap sampler
    * and a fresh shuffle window, wait for the async listener to drain,
    * and collect everything. */
  def runProbe(spark: SparkSession, totals: StageTotals, name: String)(
      build: () => DataFrame)(extra: DataFrame => Map[String, Long]): ProbeResult = {
    System.gc(); Thread.sleep(300)
    totals.reset()
    val sampler = new HeapPeak
    sampler.start()
    val t0 = System.nanoTime()
    val df = build()
    // Materialize THIS query execution (df.count() would build and run a
    // separate one, leaving df's own plan — and its SQL metrics — unrun).
    val rows = df.queryExecution.toRdd.count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(700) // stage-completed events are async
    sampler.running = false
    ProbeResult(name, sec, rows, sampler.peak >> 20, totals.snapshot(), extra(df))
  }

  /** All four genomics probes on one session. Shared by the spec (small
    * sizes, asserts) and main (big sizes, reports). The nearest-k probe
    * pins the merge regime (endpoint sweep + interval re-join) for every
    * 20th read against the annotations: its shuffle is O(reads +
    * annotations) rows, and its job count is fixed. */
  def runAll(spark: SparkSession, totals: StageTotals, nReads: Long,
      nAnnots: Long, genome: Int, parts: Int): Seq[ProbeResult] = {
    Graft.ensure(spark)
    val contigs = 4
    val cov = runProbe(spark, totals, "coverage_blocks") { () =>
      CoverageOps.blocks(synthReads(spark, nReads, 1, genome, parts, withCigar = true))
    }(_ => Map.empty)
    val reads = synthReads(spark, nReads, contigs, genome, parts, withCigar = false)
    val annots = synthAnnots(spark, nAnnots, contigs, genome, annotLen = 1000, parts)
    val bc = runProbe(spark, totals, "count_join_broadcast") { () =>
      countJoin(reads, annots, method = "")
    }(countJoinMetrics(_, expectBinRange = false))
    val br = runProbe(spark, totals, "count_join_binrange") { () =>
      countJoin(reads, annots, method = "binrange")
    }(countJoinMetrics(_, expectBinRange = true))
    val nk = runProbe(spark, totals, "nearest_k_merge") { () =>
      graft.operators.NearestJoinOps.nearestKJoin(
        reads.filter(col("pos_start") % 20 === 0), annots, 3, "merge")
    }(_ => Map.empty)
    Seq(cov, bc, br, nk)
  }

  // ---- LLM-pipeline flagship probes (dedup + ANN), sharing the
  // harness above: the genomics probes measure the interval-join /
  // coverage 100 TB posture; these measure the banded-dedup and
  // IVF-serve posture the same way — wall time, peak heap, and
  // stage-aggregated shuffle against the quantity each design must NOT
  // move (all-pairs for dedup, corpus x queries for ANN).

  @inline private def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** Synthetic documents `(doc_id, text)`: `tokensPerDoc` hashed vocab
    * tokens per doc. Every id with `id % dupEvery == 1` (id > 1) copies
    * doc `id - 1`'s tokens with the LAST token perturbed — a controlled
    * near-dup population of ~n/dupEvery adjacent pairs at 3-shingle
    * Jaccard ≈ (s-3)/s (≈0.92 at the default 40 tokens), while unrelated
    * docs share shingles only by vocab collision. Base docs (`% == 0`)
    * are never themselves dups, so expected pairs are exactly countable.
    * Pure integer-hash generation — the caller persists + materializes
    * the frame so probes time the OPERATOR, not generation. */
  def synthDocs(spark: SparkSession, n: Long, tokensPerDoc: Int = 40,
      dupEvery: Int = 10, vocab: Int = 200000, parts: Int = 128): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].mapPartitions { it =>
      val sb = new java.lang.StringBuilder(tokensPerDoc * 8)
      it.map { id =>
        val isDup = id % dupEvery == 1 && id > 1
        val base = if (isDup) id - 1 else id
        sb.setLength(0)
        var j = 0
        while (j < tokensPerDoc) {
          val seed = if (isDup && j == tokensPerDoc - 1) id else base
          val tok = (mix64(seed * 1000003L + j) & Long.MaxValue) % vocab
          if (j > 0) sb.append(' ')
          sb.append('t').append(tok)
          j += 1
        }
        (id, sb.toString)
      }
    }.toDF("doc_id", "text")
  }

  /** Synthetic embeddings `(vec_id, embedding float[dim])`, uniform in
    * [-1, 1) per coordinate from the same integer mixer. Uniform data is
    * the WORST case for an IVF probe's timing (no cluster structure to
    * shrink lists); answer QUALITY on structured data is gated
    * separately (DedupAnnSpec recall floors). */
  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 64,
      parts: Int = 128): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].mapPartitions { it =>
      it.map { id =>
        val v = new Array[Float](dim)
        var j = 0
        while (j < dim) {
          v(j) = ((mix64(id * 131071L + j) & Long.MaxValue) % 2000000L) / 1000000.0f - 1.0f
          j += 1
        }
        (id, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  /** The three pipeline probes on one session: banded MinHash near-dup
    * over `nDocs`, IVF train over `nVecs`, IVF serve for `nQueries`
    * against the trained index. Shared by `ScaleProbeSpec` (gate sizes,
    * structural asserts) and [[main]] with `pipeline` (big sizes). */
  def runPipeline(spark: SparkSession, totals: StageTotals, nDocs: Long,
      nVecs: Long, nQueries: Int, parts: Int,
      dupEvery: Int = 10): Seq[ProbeResult] = {
    Graft.ensure(spark)
    import org.apache.spark.storage.StorageLevel
    // Materialize inputs OUTSIDE the probe windows: generation is not
    // what these probes measure.
    val docs = synthDocs(spark, nDocs, dupEvery = dupEvery, parts = parts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val expectedDups = (2L until nDocs).count(_ % dupEvery == 1) // tiny n in specs; arithmetic for big n
    val dedup = runProbe(spark, totals, "minhash_neardup") { () =>
      graft.operators.DedupOps.nearDupPairs(docs, threshold = 0.8)
    }(_ => Map("expectedDups" -> expectedDups))
    docs.unpersist(blocking = false)

    val corpus = synthEmbeddings(spark, nVecs, parts = parts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val queries = corpus.filter(col("vec_id") < nQueries)
    var trained: (Array[Array[Double]], DataFrame) = null
    val train = runProbe(spark, totals, "ivf_train") { () =>
      trained = graft.operators.EmbeddingOps.ivfIndex(corpus)
      trained._2 // assignment frame: nVecs x replicas narrow rows
    } { _ =>
      val cents = trained._1
      Map("nLists" -> cents.length.toLong,
        "centroidBytes" -> cents.length.toLong * cents.headOption.map(_.length).getOrElse(0) * 8L)
    }
    val assigned = trained._2.persist(StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    val serve = runProbe(spark, totals, "ivf_serve") { () =>
      graft.operators.EmbeddingOps.ivfTopKWith(
        trained._1, assigned, corpus, queries, k = 10)
    }(_ => Map("nQueries" -> nQueries.toLong))
    assigned.unpersist(blocking = false)
    corpus.unpersist(blocking = false)
    Seq(dedup, train, serve)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("pipeline")) { pipelineMain(args.drop(1)); return }
    require(args.nonEmpty, "usage: ScaleProbe <cores> [nReads] [nAnnots] | ScaleProbe pipeline <cores> [nDocs] [nVecs]")
    val cores = args(0).toInt
    val nReads = args.lift(1).map(_.toLong).getOrElse(50000000L)
    val nAnnots = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val genome = 100000000
    val parts = 128 // FIXED across core counts — scheduling, not splits, varies
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val totals = new StageTotals
    spark.sparkContext.addSparkListener(totals)
    // Unmeasured warmup: codegen + JIT of the kernels at toy size.
    runAll(spark, totals, nReads = 200000, nAnnots = 10000, genome, parts = 8)
    val results = runAll(spark, totals, nReads, nAnnots, genome, parts)
    val json =
      s"""{"cores":$cores,"n_reads":$nReads,"n_annots":$nAnnots,"genome":$genome,"input_parts":$parts,"max_heap_mb":${Runtime.getRuntime.maxMemory() >> 20},"probes":${probesJson(results)}}"""
    spark.stop()
    println(json)
  }

  private def probesJson(results: Seq[ProbeResult]): String =
    results.map { r =>
      val sh = r.shuffle.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val ex = r.extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s""""${r.name}":{"sec":${r.sec},"rows":${r.rows},"peak_heap_mb":${r.peakHeapMb},$sh${if (ex.nonEmpty) "," + ex else ""}}"""
    }.mkString("{", ",", "}")

  /** `ScaleProbe pipeline <cores> [nDocs] [nVecs] [nQueries]` — the
    * LLM-pipeline big-number run (same one-JVM-per-core-count loop as
    * the genomics probes). */
  private def pipelineMain(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleProbe pipeline <cores> [nDocs] [nVecs] [nQueries]")
    val cores = args(0).toInt
    val nDocs = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val nVecs = args.lift(2).map(_.toLong).getOrElse(2000000L)
    val nQueries = args.lift(3).map(_.toInt).getOrElse(1000)
    val parts = 128 // FIXED across core counts, like the genomics probes
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val totals = new StageTotals
    spark.sparkContext.addSparkListener(totals)
    // Unmeasured warmup at toy size (codegen, JIT, kernel classes).
    runPipeline(spark, totals, nDocs = 20000, nVecs = 30000, nQueries = 50, parts = 8)
    val results = runPipeline(spark, totals, nDocs, nVecs, nQueries, parts)
    val json =
      s"""{"cores":$cores,"n_docs":$nDocs,"n_vecs":$nVecs,"n_queries":$nQueries,"input_parts":$parts,"max_heap_mb":${Runtime.getRuntime.maxMemory() >> 20},"probes":${probesJson(results)}}"""
    spark.stop()
    println(json)
  }
}
