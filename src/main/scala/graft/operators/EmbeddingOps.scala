package graft.operators

import graft.plans.BroadcastBudget

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[exactTopK]] — brute-force cosine top-k: broadcast the (small) query
  *   set, stream the corpus, per-query top-k via window rank. This is the
  *   exact baseline; at 100 TB it is one corpus scan with no shuffle of
  *   the corpus (only the tiny (query, k) results move).
  * - [[lshTopK]] — random-hyperplane LSH: vectors bucketed by the sign
  *   pattern of 64 fixed random projections, carved into band keys;
  *   candidates = corpus vectors sharing a band with the query, per-bucket
  *   capped, then exact cosine re-rank.
  * - [[ivfTopK]] — inverted-file index with a Lloyd-trained coarse
  *   quantizer; the preferred scale path for top-k (LSH bands at the
  *   moderate similarities real neighbors have are inherently
  *   candidate-heavy — see the band-width analysis on [[bandBitsFor]]).
  *
  * All exact re-ranks run through the native codegen'd
  * [[graft.functions.CosineSimilarity]] expression in double precision,
  * sequential index order — reproducible across engines.
  */
object EmbeddingOps {

  /** Sequential-order double-precision cosine similarity — the native
    * codegen'd [[graft.functions.CosineSimilarity]] expression (one fused
    * loop in whole-stage codegen; the previous `zip_with`/`aggregate`
    * formulation was interpreted per element). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The `(vec_id, emb: array<double>)` corpus projection every
    * train/encode/index stage consumes — built (and persisted) ONCE per
    * composed operator so IVF-PQ doesn't scan and cache the raw corpus
    * three times (r15 review). */
  private def embProjection(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))

  /** Every path that collects or broadcasts a caller-supplied query frame
    * refuses an over-budget one with this advice (the same gate
    * [[graft.streaming.StreamingOps.similarStream]] applies to its static
    * corpus): a "queries" frame is small by contract, but a caller passing
    * a large one would otherwise OOM the driver with no actionable
    * message. */
  private val QuerySetAdvice = "it is collected and shipped to every task. The query " +
    "side must be the small side: swap the arguments, pre-filter, or raise the conf if " +
    "the driver can hold it."

  private def rerankTopK(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val qe = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"))
    val ce = corpus.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_emb"))
    // NaN (zero-norm degenerate) sims are excluded BEFORE ranking: Spark
    // orders NaN above every real double, so without the filter a
    // directionless embedding would outrank true neighbors.
    val sims = candidates.join(broadcast(qe), "q_id").join(ce, "c_id")
      .select(col("q_id"), col("c_id"), cosine(col("q_emb"), col("c_emb")).as("sim"))
      .filter(!isnan(col("sim")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("rank"), col("c_id").as("neighbor_id"))
  }

  /** Exact top-k neighbors (cosine, excluding self) of each query vector.
    * Output (vec_id, rank, neighbor_id) — ranks only, deterministic
    * tie-break on neighbor id. */
  def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    BroadcastBudget.requireFits(queries, "exactTopK query set", QuerySetAdvice)
    val q = broadcast(queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb")))
    val c = corpus.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_emb"))
    val sims = c.join(q, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("q_emb"), col("c_emb")).as("sim"))
      .filter(!isnan(col("sim"))) // degenerate zero-norm vectors never rank
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("vec_id"), col("rank"), col("c_id").as("neighbor_id"))
  }

  val NumPlanes = 64

  /** Fixed Rademacher (±1) hyperplanes for a given embedding dimension —
    * each entry's sign comes from a quadratic hash of (plane, dim) index,
    * so every executor and every run derives the same planes (r2
    * hardcoded dim 64 and silently zero-bucketed any other width).
    *
    * ±1 from an integer hash instead of seeded JVM Gaussians (r7): sign
    * projections onto Rademacher vectors are a standard sign-LSH family
    * with the same collision-probability geometry in high dimension, and
    * the integer construction is exactly reproducible in SQL — which
    * makes `ann_lsh_topk`/`embedding_neardup` oracle-checkable (a DuckDB
    * `list_reduce` replays the same sequential ±emb[j] fold, so the sign
    * bits match bit-for-bit; JVM `nextGaussian` has no such counterpart).
    * Measured top-3 recall vs exact on the test corpora: 0.93–0.95
    * (Gaussian planes measured 0.88). */
  private val planeCache = scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Double]]]
  private def planesFor(dim: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate(dim, {
      Array.tabulate(NumPlanes) { i =>
        Array.tabulate(dim) { j =>
          val h = (2654435761L * (i + 1) + 40503L * (j + 1) + 12345L) % 2147483647L
          if (((h * h) % 2147483647L & 1L) == 0L) 1.0 else -1.0
        }
      }
    })

  /** Embedding dimension learned from the data (one cheap first() job). */
  private def embeddingDim(df: DataFrame): Int =
    df.select(size(col("embedding"))).head.getInt(0)

  /** (idOut, bucket) — the 64 sign bits of the random projections, computed
    * in one typed kernel pass (higher-order `zip_with`/`aggregate` is
    * interpreted per element — the measured 5-30x HOF cliff). Fails loudly
    * on a row whose dimension differs from the learned one instead of
    * silently degrading (r2 ADVICE). */
  def signBuckets(df: DataFrame, idOut: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = embeddingDim(df)
    val bc = spark.sparkContext.broadcast(planesFor(dim))
    df.select(col("vec_id"), asDouble(col("embedding")))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val ps = bc.value
        val dim = ps(0).length
        it.map { case (id, emb) =>
          require(emb.length == dim,
            s"embedding of vec_id=$id has dim ${emb.length}, LSH planes expect $dim")
          val v = emb.toArray
          var bucket = 0L
          var i = 0
          while (i < ps.length) {
            val p = ps(i)
            var dot = 0.0
            var j = 0
            while (j < dim) { dot += p(j) * v(j); j += 1 }
            if (dot >= 0) bucket |= (1L << i)
            i += 1
          }
          (id, bucket)
        }
      }.toDF(idOut, "bucket")
  }

  /** Band width (in sign bits) tuned to a cosine threshold.
    *
    * Sign-LSH theory: a plane agrees on a pair at angle θ with
    * p₁ = 1 − θ/π, so a b-bit band matches with p₁^b. Wider bands cut
    * random collisions 2× per bit but cost recall at the threshold angle.
    * This picks the widest band that keeps per-band match probability
    * ≳0.3 at the threshold, then uses all 64/b bands (capped at 16):
    * high thresholds (0.9+, the realistic dedup regime) get 6-16-bit
    * bands — near-linear candidate volume; low thresholds (θ→90°) bottom
    * out at 4 bits, where candidate-heaviness is information-theoretically
    * inherent, and the per-bucket cap bounds the worst case. */
  def bandBitsFor(threshold: Double): Int = {
    val p1 = 1.0 - math.acos(threshold.max(-1.0).min(1.0)) / math.Pi
    if (p1 <= 0.0 || p1 >= 1.0) 16
    else math.max(4, math.min(16, (math.log(0.35) / math.log(p1)).toInt))
  }

  /** (id, bkey) band keys carved from the 64-bit sign bucket; band identity
    * is folded into the key's high bits so bands stay disjoint. */
  private[graft] def bandKeys(buckets: DataFrame, idCol: String, bandBits: Int): DataFrame = {
    val nBands = math.min(16, NumPlanes / bandBits)
    val mask = (1L << bandBits) - 1
    val keys = (0 until nBands).map { j =>
      lit(j.toLong << 48).bitwiseOR(shiftright(col("bucket"), j * bandBits).bitwiseAND(mask))
    }
    buckets.select(col(idCol).as("id"), explode(array(keys: _*)).as("bkey"))
  }

  /** Approximate top-k via banded sign-LSH + exact cosine re-rank.
    *
    * Scale shape: corpus band rows are capped at `bucketCap` members per
    * band key (deterministic lowest ids), so candidate volume is
    * O(queries × bands × cap) — **independent of corpus size** — and the
    * join is a plain shuffle join on 64-bit keys. Recall on hot buckets
    * degrades gracefully (like bounded nprobe); the exact path or IVF is
    * the answer when that matters. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bandBits: Int = 4, bucketCap: Int = 2048): DataFrame = {
    // Persist barriers: stop CollapseProject from inlining the bucket
    // kernel into every band key (the DedupOps pathology), and reuse the
    // corpus index across the stats and join consumers.
    val cb = bandKeys(signBuckets(corpus, "c_id"), "c_id", bandBits)
      .transform(CacheScope.persistTracked)
    val capped = cb.withColumn("rn",
        row_number().over(Window.partitionBy(col("bkey")).orderBy(col("id"))))
      .filter(col("rn") <= bucketCap)
      .select(col("id").as("c_id"), col("bkey"))
    val qb = bandKeys(signBuckets(queries, "q_id"), "q_id", bandBits)
      .select(col("id").as("q_id"), col("bkey"))
      .transform(CacheScope.persistTracked)
    val candidates = qb.join(capped, "bkey")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    rerankTopK(candidates, corpus, queries, k)
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path.
    *
    * The coarse quantizer is trained: `iters` Lloyd iterations of
    * spherical k-means, each one a narrow assignment kernel over broadcast
    * centroids plus a `posexplode → groupBy(list, pos) → avg` DataFrame
    * aggregation (shuffle size = nLists × dim, never O(corpus)); the
    * driver holds only the centroid matrix. Initialization samples
    * `nLists` corpus vectors by hashed id — deterministic but unbiased
    * (r2 took the lowest ids: id-correlated vectors skewed every list).
    * `nLists` defaults to ~sqrt(N) (classic IVF sizing) so list size and
    * list count grow together; queries probe their `nProbe` nearest lists
    * and exact cosine re-ranks ~replicas·nProbe/nLists of the corpus. */
  private def cosTo(c: Array[Double], v: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < v.length) { dot += c(i) * v(i); na += c(i) * c(i); nb += v(i) * v(i); i += 1 }
    // Zero-norm sides return -3.0 (below any real cosine) instead of NaN:
    // NaN's engine-specific sort position (Spark/Scala above all reals,
    // DuckDB DESC first) would make centroid assignment of a degenerate
    // vector diverge between the engine and the SQL oracle replay.
    if (na == 0.0 || nb == 0.0) -3.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Nearest-centroid assignment: (id, list) per input row, `probes`
    * nearest lists each — a narrow map over broadcast centroids. */
  private def assignLists(df: DataFrame, idCol: String,
      cents: Array[Array[Double]], probes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    df.as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, emb) =>
          nearestLists(emb.toArray, cs, probes).map(li => (id, li))
        }
      }.toDF(idCol, "list")
  }

  /** The `n` nearest centroid list ids (cosine) for one vector —
    * deterministic tie-break toward the lower list index (stable sort).
    * Shared by the batch assignment and the streaming serve path. */
  def nearestLists(v: Array[Double], cents: Array[Array[Double]], n: Int): Seq[Int] =
    cents.indices.map(li => (li, cosTo(cents(li), v)))
      .sortBy(-_._2).take(n).map(_._1)

  /** Trained IVF index: Lloyd-refined centroids + the corpus assignment
    * `(c_id, list)` with each vector replicated to its `replicas` nearest
    * lists (soft assignment — the standard recall repair for points near
    * list boundaries; costs `replicas`× index rows, never extra corpus
    * scans). Exposed so index quality (list-size balance) is testable
    * apart from the query path. */
  def ivfIndex(corpus: DataFrame, nLists: Int = 0, iters: Int = 3,
      replicas: Int = 2): (Array[Array[Double]], DataFrame) =
    ivfIndexOn(embProjection(corpus).transform(CacheScope.persistTracked),
      nLists, iters, replicas)

  /** [[ivfIndex]] over an already-projected-and-persisted `(vec_id,
    * emb)` frame — [[ivfPqTopK]] shares one projection between the
    * coarse and product quantizers (r15 review). */
  private[graft] def ivfIndexOn(ce: DataFrame, nLists: Int, iters: Int,
      replicas: Int): (Array[Array[Double]], DataFrame) = {
    val spark = ce.sparkSession
    import spark.implicits._
    val n = ce.count()
    val lists = if (nLists > 0) nLists
      else math.max(4, math.min(4096, math.sqrt(n.toDouble).toInt))

    // Deterministic unbiased seed sample, then Lloyd refinement. The seed
    // order hash is pure 63-bit-safe integer arithmetic (a multiplicative
    // hash mod the Mersenne prime 2^31-1) rather than xxhash64, so an SQL
    // oracle can replay the exact sample; vec_id breaks hash ties.
    var centroids: Array[Array[Double]] = ce
      .orderBy(seedOrderHash(col("vec_id")), col("vec_id")).limit(lists)
      .select(col("emb")).as[Seq[Double]].collect().map(_.toArray)
    // Each Lloyd step is one narrow pass: per-partition partial sums per
    // centroid folded with treeReduce (the MLlib KMeans shape). Driver
    // and reduce traffic are O(partitions-at-the-tree-fanin x nLists x
    // dim), never O(corpus); the earlier join + posexplode + shuffle
    // formulation cost a multi-stage job per iteration.
    //
    // Accumulation is FIXED-POINT (each member quantized to a scaled Long
    // before summing): integer addition is exactly associative, so the
    // refined centroids are a pure function of the data — independent of
    // partition layout and treeReduce fanin order, and bit-replayable by
    // a SUM(BIGINT) in an SQL oracle. The 2^-31-per-coordinate rounding
    // is far inside k-means noise; overflow (needs ~2^33 unit-norm
    // members in ONE list — beyond 100 TB at the nLists cap) fails loudly
    // via addExact rather than corrupting centroids silently.
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val (sums, counts) = ce.as[(Long, Seq[Double])].rdd.mapPartitions { it =>
        val cs = bc.value
        val dim = if (cs.nonEmpty) cs(0).length else 0
        val s = Array.fill(cs.length)(new Array[Long](dim))
        val c = new Array[Long](cs.length)
        it.foreach { case (_, emb) =>
          val v = emb.toArray
          var best = 0; var bestSim = -4.0; var li = 0
          while (li < cs.length) {
            val sim = cosTo(cs(li), v)
            if (sim > bestSim) { bestSim = sim; best = li }
            li += 1
          }
          val sv = s(best); var i = 0
          while (i < v.length) { sv(i) = Math.addExact(sv(i), toFixed(v(i))); i += 1 }
          c(best) += 1
        }
        Iterator.single((s, c))
      }.treeReduce { case ((s1, c1), (s2, c2)) =>
        var li = 0
        while (li < s1.length) {
          val a = s1(li); val b = s2(li); var i = 0
          while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
          c1(li) += c2(li); li += 1
        }
        (s1, c1)
      }
      bc.unpersist(blocking = false)
      centroids = centroids.zipWithIndex.map { case (old, li) =>
        if (counts(li) == 0) old // empty list keeps its previous centroid
        else {
          val sf = sums(li); val cnt = counts(li).toDouble
          Array.tabulate(sf.length)(i => sf(i).toDouble / (cnt * FixedPointScale))
        }
      }
    }
    (centroids, assignLists(ce, "c_id", centroids, replicas))
  }

  /** Fixed-point scale (2^30) for the order-independent Lloyd sums. */
  val FixedPointScale: Double = 1073741824.0

  /** `floor(x·2^30 + 0.5)` — half-up rounding written so an SQL
    * `CAST(FLOOR(x*S + 0.5) AS BIGINT)` computes the identical Long. */
  private def toFixed(x: Double): Long = math.floor(x * FixedPointScale + 0.5).toLong

  /** Deterministic, SQL-replayable seed order:
    * `(1597334677·((id+1) mod p)) mod p`, p = 2^31−1. All intermediates
    * stay under 2^63, so DuckDB BIGINT arithmetic replays it without
    * overflow (xxhash64 has no such SQL counterpart). The multiplier is
    * a fixed large odd constant — large so consecutive ids wrap mod p
    * (a small one degenerates to id order, r2's skew) — selected for
    * seed-sample quality (IVF probe recall, SemDedup cluster recall,
    * list balance) on the test corpora at both sf0.001 and sf0.01. */
  private[operators] def seedOrderHash(id: Column): Column =
    (lit(1597334677L) * ((id + lit(1L)) % lit(2147483647L))) % lit(2147483647L)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 0, nProbe: Int = 6, iters: Int = 3): DataFrame = {
    val (centroids, assigned) = ivfIndex(corpus, nLists, iters)
    ivfTopKWith(centroids, assigned, corpus, queries, k, nProbe)
  }

  /** Probe-only IVF query against an already-trained quantizer +
    * assignment — the shape every job after the first should use: at
    * 100 TB the Lloyd passes and the corpus assignment are the expensive
    * stages, and they are pure functions of the corpus, not the queries.
    * Train once ([[ivfIndex]]), persist ([[saveQuantizer]] + write the
    * assignment frame as a table), then serve every query batch from the
    * artifacts with zero corpus-wide training scans. */
  def ivfTopKWith(centroids: Array[Array[Double]], assigned: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 6): DataFrame = {
    val probes = assignLists(
      queries.select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      "q_id", centroids, nProbe)
    val candidates = probes.join(assigned, "list")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    rerankTopK(candidates, corpus, queries, k)
  }

  /** Public corpus→list assignment against an externally supplied (e.g.
    * reloaded) quantizer — the missing link between [[loadQuantizer]] and
    * [[ivfTopKWith]]: a serve job that starts from artifacts needs to
    * (re)build or refresh the `(c_id, list)` side without retraining.
    * Same soft-assignment semantics as [[ivfIndex]]. */
  def ivfAssign(corpus: DataFrame, centroids: Array[Array[Double]],
      replicas: Int = 2): DataFrame =
    assignLists(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      "c_id", centroids, replicas)

  /** Persist the full trained IVF index — quantizer (small, one file) +
    * corpus assignment (O(corpus), distributed parquet) — under one
    * directory. The 100 TB contract: training and assignment are pure
    * functions of the corpus and run ONCE; every later query batch is
    * [[loadIndex]] + [[ivfTopKWith]], which touches only the probed
    * lists. */
  def saveIndex(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]], assigned: DataFrame, path: String): Unit = {
    saveQuantizer(spark, centroids, s"$path/quantizer")
    assigned.select(col("c_id"), col("list"))
      .write.mode("overwrite").parquet(s"$path/assignment")
  }

  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], DataFrame) =
    (loadQuantizer(spark, s"$path/quantizer"),
      spark.read.parquet(s"$path/assignment"))

  /** Persist the trained coarse quantizer as one parquet of
    * `(list: int, centroid: array<double>)` — doubles round-trip parquet
    * exactly, so a reloaded quantizer assigns every vector to the same
    * list as the in-memory original (asserted in spec). */
  def saveQuantizer(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, li) => (li, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadQuantizer(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("list"), col("centroid"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }

  // ------------------------------------------------------------------ PQ
  /** Subspace boundaries for product quantization: subspace `s` covers
    * coordinates `[s·dim/m, (s+1)·dim/m)` (integer division, so a dim not
    * divisible by `m` still partitions exactly). */
  private def pqStarts(dim: Int, m: Int): Array[Int] =
    Array.tabulate(m + 1)(s => s * dim / m)

  /** L2-normalize in place (sequential square sum, the SQL-replayable
    * fold); an all-zero vector stays zero (it can never rank — the exact
    * re-rank NaN-filters it — and NaN codes would poison the Lloyd sums).
    * PQ trains and encodes the NORMALIZED corpus: the ADC score is then
    * `cos(q, v) · ||q||` — rank-identical to cosine per query — where the
    * raw dot product would let corpus norms corrupt the candidate
    * ordering (measured: top-3 recall 0.32 raw vs 0.85 normalized). */
  private def pqNormalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s == 0.0) v
    else {
      val n = math.sqrt(s)
      var j = 0
      while (j < v.length) { v(j) = v(j) / n; j += 1 }
      v
    }
  }

  /** Product-quantization codebooks (Jégou et al. 2011, the FAISS IVF-PQ
    * building block): the embedding split into `m` subspaces, each
    * sub-quantized by its own `codes`-centroid codebook, so a corpus
    * vector compresses to `m` small code ids — at 100 TB this is the
    * technique that shrinks a float32 corpus 32× so the candidate scan
    * fits in memory, with the exact re-rank touching only the top
    * candidates' full vectors.
    *
    * Deterministic by the same construction as [[ivfIndex]], so a SQL
    * oracle can replay the training bit-for-bit: the seed sample is the
    * [[seedOrderHash]] order (the SAME seed rows for every subspace,
    * sliced), Lloyd assignment is SQUARED L2 on the subvector (a
    * sequential fold; strict `<`, so ties keep the lowest code — the
    * `ROW_NUMBER() OVER (ORDER BY dist, code)` order), accumulation is
    * the fixed-point Long sum (order-independent, `Math.addExact`
    * overflow), the mean is the identical `sum / (count · 2^30)` divide,
    * and an empty code keeps its previous centroid. ONE narrow
    * treeReduce pass per iteration trains ALL `m` subspaces — driver
    * traffic is O(m · codes · dim/m) = O(codes · dim), never O(corpus).
    *
    * Training and encoding run over the L2-NORMALIZED corpus
    * ([[pqNormalize]]) so the ADC score approximates COSINE ranking, not
    * the raw dot (measured top-3 recall on the near-random test corpus:
    * 0.32 raw dot at m=4 → 0.95 at the normalized m=16/codes=32
    * defaults).
    *
    * Returns `books(s)(code) = centroid` (length dim/m each). */
  def pqCodebooks(corpus: DataFrame, m: Int = 16, codes: Int = 32,
      iters: Int = 3): Array[Array[Array[Double]]] =
    pqCodebooksOn(embProjection(corpus).transform(CacheScope.persistTracked),
      m, codes, iters)

  /** [[pqCodebooks]] over an already-projected-and-persisted
    * `(vec_id, emb)` frame — the composed paths ([[pqTopK]],
    * [[ivfPqTopK]]) build that projection ONCE and thread it through
    * training, encoding, and the IVF index instead of re-reading and
    * re-caching the corpus per stage (r15 review). */
  private[graft] def pqCodebooksOn(ce: DataFrame, m: Int, codes: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val spark = ce.sparkSession
    import spark.implicits._
    require(m >= 1 && codes >= 1, s"pqCodebooks: m=$m codes=$codes")
    val seeds: Array[Array[Double]] = ce
      .orderBy(seedOrderHash(col("vec_id")), col("vec_id")).limit(codes)
      .select(col("emb")).as[Seq[Double]].collect()
      .map(e => pqNormalize(e.toArray))
    require(seeds.length == codes,
      s"pqCodebooks: corpus has only ${seeds.length} vectors for $codes codes")
    val dim = seeds(0).length
    // m > dim would make the integer-division pqStarts boundaries emit
    // empty subspaces whose ADC contribution is always 0 — recall decays
    // silently with no diagnostic (r15 review). Fail loudly instead.
    require(dim >= m,
      s"pqCodebooks: m=$m subspaces exceed the embedding dim=$dim")
    val bounds = pqStarts(dim, m)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seeds.map(v => java.util.Arrays.copyOfRange(v, bounds(s), bounds(s + 1)))
    }
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(books)
      val (sums, counts) = ce.as[(Long, Seq[Double])].rdd.mapPartitions { it =>
        val bs = bc.value
        val s = Array.tabulate(m)(si =>
          Array.fill(codes)(new Array[Long](bounds(si + 1) - bounds(si))))
        val c = Array.fill(m)(new Array[Long](codes))
        it.foreach { case (_, emb) =>
          val v = pqNormalize(emb.toArray)
          var si = 0
          while (si < m) {
            val st = bounds(si); val ln = bounds(si + 1) - st
            val best = pqNearest(v, st, ln, bs(si))
            val sv = s(si)(best); var t = 0
            while (t < ln) { sv(t) = Math.addExact(sv(t), toFixed(v(st + t))); t += 1 }
            c(si)(best) += 1
            si += 1
          }
        }
        Iterator.single((s, c))
      }.treeReduce { case ((s1, c1), (s2, c2)) =>
        var si = 0
        while (si < s1.length) {
          var j = 0
          while (j < codes) {
            val a = s1(si)(j); val b = s2(si)(j); var t = 0
            while (t < a.length) { a(t) = Math.addExact(a(t), b(t)); t += 1 }
            c1(si)(j) += c2(si)(j); j += 1
          }
          si += 1
        }
        (s1, c1)
      }
      bc.unpersist(blocking = false)
      books = Array.tabulate(m) { si =>
        Array.tabulate(codes) { j =>
          if (counts(si)(j) == 0) books(si)(j) // empty code keeps its centroid
          else {
            val sf = sums(si)(j); val cnt = counts(si)(j).toDouble
            Array.tabulate(sf.length)(t => sf(t).toDouble / (cnt * FixedPointScale))
          }
        }
      }
    }
    books
  }

  /** Nearest code of `v[st, st+ln)` in `book` by squared L2 — the
    * sequential fold an SQL `list_reduce` replays exactly; strict `<`
    * keeps the lowest code on ties. */
  private def pqNearest(v: Array[Double], st: Int, ln: Int,
      book: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity; var j = 0
    while (j < book.length) {
      val cent = book(j)
      var d = 0.0; var t = 0
      while (t < ln) { val df = v(st + t) - cent(t); d += df * df; t += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** PQ-encode the corpus against trained codebooks: one narrow pass,
    * output `(c_id, pqcodes: array<int>)` — `m` small ints per vector,
    * the 100 TB-resident form of the corpus. */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]]): DataFrame =
    pqEncodeOn(embProjection(corpus), books)

  /** [[pqEncode]] over an already-projected `(vec_id, emb)` frame —
    * reuses the projection [[pqCodebooksOn]] trained from instead of
    * re-reading the raw corpus (r15 review). */
  private[graft] def pqEncodeOn(ce: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = ce.sparkSession
    import spark.implicits._
    val m = books.length
    val bc = spark.sparkContext.broadcast(books)
    ce.as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val bs = bc.value
        it.map { case (id, emb) =>
          val v = pqNormalize(emb.toArray)
          val bounds = pqStarts(v.length, m)
          val cs = new Array[Int](m)
          var si = 0
          while (si < m) {
            cs(si) = pqNearest(v, bounds(si), bounds(si + 1) - bounds(si), bs(si))
            si += 1
          }
          (id, cs.toSeq)
        }
      }.toDF("c_id", "pqcodes")
  }

  /** PQ/ADC approximate top-k with exact re-rank — the asymmetric
    * distance computation shape: the QUERY stays full-precision, the
    * corpus is its `m`-byte codes, and each candidate's approximate dot
    * product is `m` table lookups (`adc(s)(code)` = the query subvector's
    * dot with that code's centroid) folded in subspace order. Candidates
    * are the global top `k·rerankFactor` per query by (ADC score DESC,
    * c_id ASC); the exact cosine re-rank touches only those. All
    * arithmetic is sequential-fold deterministic, so the DuckDB oracle
    * replays training, encoding, ADC, and re-rank bit-for-bit.
    *
    * At 100 TB: training is O(corpus) once (like [[ivfIndex]]),
    * encoding is one narrow pass, and the per-query scan reads `m`
    * ints per corpus vector instead of `dim` floats — the candidate
    * generation is bandwidth-bound on a 32×-smaller working set. The
    * broadcast side is `queries × m × codes` doubles (tiny). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 16,
      codes: Int = 32, iters: Int = 3, rerankFactor: Int = 8): DataFrame = {
    BroadcastBudget.requireFits(queries, "pqTopK query set", QuerySetAdvice)
    // ONE persisted projection feeds both training and encoding.
    val ce = embProjection(corpus).transform(CacheScope.persistTracked)
    val books = pqCodebooksOn(ce, m, codes, iters)
    pqTopKWith(books, pqEncodeOn(ce, books), corpus, queries, k, rerankFactor)
  }

  /** Probe-only PQ query against already-trained codebooks + an encoded
    * corpus — the serve shape: at 100 TB the training and the encode
    * pass are pure functions of the corpus, run once, and persist
    * ([[savePqIndex]]); every query batch after the first touches only
    * the m-bytes-per-vector codes. */
  def pqTopKWith(books: Array[Array[Array[Double]]], encoded: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int,
      rerankFactor: Int = 8): DataFrame = {
    // The serve entry is reachable directly (similarityTopKPqServed), so
    // it needs its own driver-protection gate — pqAdcFrame collects the
    // query frame (r15 review).
    BroadcastBudget.requireFits(queries, "pqTopKWith query set", QuerySetAdvice)
    val qdf = broadcast(pqAdcFrame(queries, books))
    // Approximate score: the codes-indexed lookups folded in subspace
    // order (zip_with keeps positions; aggregate is a sequential left
    // fold — the exact shape `list_reduce` replays).
    val scored = encoded
      .join(qdf, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), pqScore.as("ascore"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ascore").desc, col("c_id").asc)
    val pruned = scored.withColumn("arank", row_number().over(w))
      .filter(col("arank") <= k * rerankFactor)
      .select(col("q_id"), col("c_id"))
    rerankTopK(pruned, corpus, queries, k)
  }

  /** The ADC score expression over (`pqcodes`, `adc`) columns. */
  private[graft] def pqScore: Column =
    aggregate(
      zip_with(col("pqcodes"), col("adc"),
        (c, table) => element_at(table, c + lit(1))),
      lit(0.0), (acc, x) => acc + x)

  /** One query's ADC lookup tables: `adc(s)(code)` = the query's
    * subvector-s dot with that code's centroid — `m·codes` sequential
    * dots of dim/m doubles (the fold `list_reduce` replays). */
  private[graft] def pqAdcTable(qv: Array[Double],
      books: Array[Array[Array[Double]]]): Seq[Seq[Double]] = {
    val m = books.length
    val bounds = pqStarts(qv.length, m)
    Seq.tabulate(m) { si =>
      val st = bounds(si)
      books(si).toSeq.map { cent =>
        var x = 0.0; var t = 0
        while (t < cent.length) { x += qv(st + t) * cent(t); t += 1 }
        x
      }
    }
  }

  /** Per-query ADC tables, computed once on the driver: `m·codes` dots
    * of dim/m doubles per query — O(queries · codes · dim), independent
    * of the corpus. Output `(q_id, adc: array<array<double>>)`. */
  private def pqAdcFrame(queries: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => (id, pqAdcTable(e.toArray, books)) }
      .toSeq.toDF("q_id", "adc")
  }

  /** Persist the trained PQ index — codebooks (small, one file) + the
    * encoded corpus (O(corpus) but m ints per vector, distributed
    * parquet) — under one directory; the PQ twin of [[saveIndex]]. */
  def savePqIndex(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]], encoded: DataFrame,
      path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, code) => (s, code, cent.toSeq) }
    }.toSeq.toDF("s", "code", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
    encoded.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload a [[savePqIndex]] artifact. Doubles and ints round-trip
    * parquet exactly, so the reloaded index answers identically to the
    * in-memory original (asserted in spec). */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Array[Double]]], DataFrame) = {
    import spark.implicits._
    val books = spark.read.parquet(s"$path/codebooks")
      .select(col("s"), col("code"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
      .map(_.toArray).toArray
    (books, spark.read.parquet(s"$path/codes"))
  }

  /** IVF-PQ top-k — the composition every production vector store runs
    * at scale (FAISS's `IVFx,PQy`): the IVF coarse quantizer bounds the
    * candidate set to the probed lists, the PQ codes rank those
    * candidates by ADC lookups, and only the top `k·rerankFactor`
    * survivors touch their full vectors for the exact re-rank. At
    * 100 TB: the scan reads the probed lists' m-byte codes only —
    * both the fraction-of-corpus (IVF) and bytes-per-vector (PQ)
    * reductions compose. Both quantizers train deterministically, so
    * the `ann_ivfpq_topk` oracle replays the whole pipeline. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 0, nProbe: Int = 6, m: Int = 16, codes: Int = 32,
      iters: Int = 3, rerankFactor: Int = 8): DataFrame = {
    // ONE persisted projection feeds the coarse quantizer, the PQ
    // training, and the encode pass (r15 review: this path used to scan
    // and cache the raw corpus three times).
    val ce = embProjection(corpus).transform(CacheScope.persistTracked)
    val (centroids, assigned) = ivfIndexOn(ce, nLists, iters, replicas = 2)
    val books = pqCodebooksOn(ce, m, codes, iters)
    ivfPqTopKWith(centroids, assigned, books, pqEncodeOn(ce, books),
      corpus, queries, k, nProbe, rerankFactor)
  }

  /** Probe-only IVF-PQ query against already-trained artifacts — the
    * serve shape of the composition: both quantizers are pure functions
    * of the corpus, trained and persisted once ([[saveIndex]] +
    * [[savePqIndex]]); every query batch touches only the probed lists'
    * m-byte codes plus the top pool's full vectors. */
  def ivfPqTopKWith(centroids: Array[Array[Double]], assigned: DataFrame,
      books: Array[Array[Array[Double]]], encoded: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int = 6, rerankFactor: Int = 8): DataFrame = {
    BroadcastBudget.requireFits(queries, "ivfPqTopK query set", QuerySetAdvice)
    val probes = assignLists(
      queries.select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      "q_id", centroids, nProbe)
    val cand0 = probes.join(assigned, "list")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    val qdf = broadcast(pqAdcFrame(queries, books))
    val scored = cand0.join(encoded, "c_id").join(qdf, "q_id")
      .select(col("q_id"), col("c_id"), pqScore.as("ascore"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ascore").desc, col("c_id").asc)
    val pruned = scored.withColumn("arank", row_number().over(w))
      .filter(col("arank") <= k * rerankFactor)
      .select(col("q_id"), col("c_id"))
    rerankTopK(pruned, corpus, queries, k)
  }

  /** Scalar int8 quantization of the embedding column: per-vector max-abs
    * scale, `q[i] = round(v[i]/scale)` in [-127,127]. Output
    * `(vec_id, qemb: binary, scale: double)` — 4× smaller than float32,
    * which is the whole point at scale: broadcast tables, shuffle
    * payloads, and cached indexes shrink 4×, and the int8 scan is the
    * memory-bandwidth-bound inner loop of a real vector store. Cosine is
    * scale-invariant, so ranking in the quantized domain needs no
    * dequantization; `scale` is kept for reconstruction. */
  def quantize(embs: DataFrame, idCol: String = "vec_id"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col(idCol), asDouble(col("embedding")))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, emb) =>
          val v = emb.toArray
          var m = 0.0; var i = 0
          while (i < v.length) { val a = math.abs(v(i)); if (a > m) m = a; i += 1 }
          val scale = if (m == 0.0) 1.0 else m / 127.0
          val q = new Array[Byte](v.length)
          i = 0
          while (i < v.length) { q(i) = math.round(v(i) / scale).toByte; i += 1 }
          (id, q, scale)
        }
      }.toDF(idCol, "qemb", "scale")
  }

  /** Integer cosine over two int8-quantized vectors (scale-invariant, so
    * no dequantization): the shared kernel of [[quantizedTopK]]'s scan
    * and [[ivfQuantizedTopKWith]]'s candidate prune. Zero-norm returns
    * -2.0 (below any real cosine) rather than NaN. */
  private def int8Cos(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length,
      s"quantized dim mismatch: ${a.length} vs ${b.length}")
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) {
      val x = a(i).toLong; val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0L || nb == 0L) -2.0
    else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** IVF probe + int8 prune + exact re-rank — the three-stage shape of a
    * production vector store: the probed lists bound the candidate set
    * to the ~replicas·nProbe/nLists corpus fraction, the INTEGER dot
    * over 4×-smaller int8 payloads cuts the candidate pool to
    * `k · rerankFactor` per query, and only that pool is re-ranked in
    * exact double. With `rerankFactor` large enough to keep every
    * candidate, the prune is a no-op and the result equals
    * [[ivfTopKWith]] exactly (a spec law); at the default it trades
    * bounded recall (int8 rounding near the cut) for a much smaller
    * exact-rerank stage. */
  def ivfQuantizedTopKWith(centroids: Array[Array[Double]], assigned: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 6,
      rerankFactor: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    BroadcastBudget.requireFits(queries, "ivfQuantizedTopKWith query set", QuerySetAdvice)
    val probes = assignLists(
      queries.select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      "q_id", centroids, nProbe)
    val candidates = probes.join(assigned, "list")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    val qq = quantize(queries).select(col("vec_id").as("q_id"), col("qemb").as("q_q"))
    val cq = quantize(corpus).select(col("vec_id").as("c_id"), col("qemb").as("c_q"))
    val scored = candidates
      .join(broadcast(qq), "q_id").join(cq, "c_id")
      .select(col("q_id"), col("c_id"), col("q_q"), col("c_q"))
      .as[(Long, Long, Array[Byte], Array[Byte])]
      .map { case (q, c, qa, ca) => (q, c, int8Cos(qa, ca)) }
      .toDF("q_id", "c_id", "qsim")
      .filter(col("qsim") =!= -2.0) // zero-norm degenerates never rank
    val m = k * rerankFactor
    val w = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("c_id").asc)
    val pruned = scored.withColumn("qrank", row_number().over(w))
      .filter(col("qrank") <= m)
      .select(col("q_id"), col("c_id"))
    rerankTopK(pruned, corpus, queries, k)
  }

  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 0, nProbe: Int = 6, iters: Int = 3,
      rerankFactor: Int = 4): DataFrame = {
    val (centroids, assigned) = ivfIndex(corpus, nLists, iters)
    ivfQuantizedTopKWith(centroids, assigned, corpus, queries, k, nProbe, rerankFactor)
  }

  /** Approximate top-k over int8-quantized vectors with exact re-rank.
    *
    * The scan kernel holds the (broadcast) quantized query set and a
    * bounded min-heap of `k × rerankFactor` candidates **per query per
    * partition**: similarity is an integer dot product, and only the heap
    * survivors leave the partition — shuffle volume is
    * O(partitions × queries × k·rerankFactor), independent of corpus
    * size, where [[exactTopK]] shuffles every (query, corpus) pair into
    * the rank window. Per-partition survivors are then pruned to ONE
    * global top-(k × rerankFactor) per query by quantized similarity
    * (deterministic (sim desc, id asc) tie-break) before the exact
    * re-rank — without that step the re-rank pool would be the union of
    * per-partition heaps, so a vector outside the global quantized top-m
    * but inside some partition's top-m could enter the re-rank and make
    * the answer depend on partition layout (r3 ADVICE). With it, the
    * candidate set is a pure function of the data, so the output schema
    * and determinism guarantees match [[exactTopK]]; only recall is
    * approximate (int8 rounding can demote a true neighbor past the
    * global top-m boundary — asserted ≥0.9 in tests). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerankFactor: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    BroadcastBudget.requireFits(queries, "quantizedTopK query set", QuerySetAdvice)
    val qq: Array[(Long, Array[Byte])] = quantize(queries)
      .select(col("vec_id"), col("qemb")).as[(Long, Array[Byte])].collect()
    val bc = spark.sparkContext.broadcast(qq)
    val m = k * rerankFactor
    val candidates = quantize(corpus)
      .select(col("vec_id"), col("qemb")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val qs = bc.value
        // The dequeued (max-priority) element is the WORST candidate:
        // lowest sim, ties broken toward the larger id — the same
        // (sim desc, id asc) order rerankTopK uses, so heap survival is
        // a pure function of the candidate set, not partition layout.
        val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
          case (sim, cid) => (-sim, cid)
        }
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        it.foreach { case (cid, cq) =>
          var qi = 0
          while (qi < qs.length) {
            val qv = qs(qi)._2
            if (qs(qi)._1 != cid) {
              val sim = int8Cos(qv, cq)
              // -2.0 marks a zero-norm side — degenerate, never a
              // neighbor (mirrors the NaN filter on the exact paths).
              if (sim != -2.0) {
                val h = heaps(qi)
                if (h.size < m) h.enqueue((sim, cid))
                else if (worstFirst.lt((sim, cid), h.head)) { h.dequeue(); h.enqueue((sim, cid)) }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (sim, cid) => (qs(qi)._1, cid, sim) }
        }
      }.toDF("q_id", "c_id", "qsim")
    // qsim is a pure function of the quantized pair, so replicas of the
    // same (q_id, c_id) across partitions carry identical values and the
    // dedup is unambiguous. The window then keeps the global top-m per
    // query — the structural partition-invariance guarantee.
    val w = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("c_id").asc)
    val pruned = candidates.dropDuplicates("q_id", "c_id")
      .withColumn("qrank", row_number().over(w))
      .filter(col("qrank") <= m)
      .select(col("q_id"), col("c_id"))
    rerankTopK(pruned, corpus, queries, k)
  }

  /** Embedding-cosine near-duplicate pairs (the vector member of the dedup
    * family): banded sign-LSH self-join candidates (band width adapted to
    * the threshold via [[bandBitsFor]], per-bucket star cap via
    * [[DedupOps.cappedSelfJoinPairs]]), exact-cosine verified against
    * `threshold`. Same no-all-pairs shape as
    * [[graft.operators.DedupOps.nearDupPairs]]; recall depends on the LSH
    * band match probability at the threshold's angle. The whole pipeline
    * is deterministic and replayed CTE-by-CTE in the `embedding_neardup`
    * DuckDB oracle (EmbeddingQueries mirrors the banding, so it asserts
    * `bandBitsFor(0.4) == 4` to stay in sync with its hardcoded band
    * width); recall vs brute force is additionally asserted in tests. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      cap: Int = DedupOps.DefaultBucketCap): DataFrame = {
    val bits = bandBitsFor(threshold)
    val nBands = math.min(16, NumPlanes / bits)
    val buckets = CacheScope.persistTracked(signBuckets(corpus, "vec_id"))
    val mask = (1L << bits) - 1
    val keys = (0 until nBands).map { j =>
      lit(j.toLong << 48).bitwiseOR(shiftright(col("bucket"), j * bits).bitwiseAND(mask))
    }
    val banded = buckets.select(col("vec_id").as("id"), col("bucket"),
      explode(array(keys: _*)).as("bkey"))
    // Healthy-bucket regime (no bucket over the flood cap — one tiny
    // aggregation over the cached sign buckets decides): each qualifying
    // pair is emitted from its FIRST matching band only — band j matches
    // iff bit-group j of bucket_x XOR bucket_y is zero, a pure function
    // of the two 64-bit buckets both join sides already carry — so the
    // full `distinct()` of the multiplied pair stream (the one
    // O(candidate-pairs) Exchange left in the dedup/ANN families; at a
    // 0.4 threshold candidates are ~2/3 of ALL pairs, so that shuffle
    // grows ~quadratically at fixed band width) disappears: the pair
    // stream flows straight into the broadcast verify joins, shuffled
    // nowhere (guide §2.4). Over the cap, the star-edge semantics of
    // [[DedupOps.cappedSelfJoinPairs]] apply unchanged.
    val maxBsz = banded.groupBy(col("bkey")).agg(count(lit(1)).as("bsz"))
      .agg(max(col("bsz"))).head.getLong(0)
    val candidates =
      if (maxBsz <= cap) {
        val xor = col("x.bucket").bitwiseXOR(col("y.bucket"))
        val firstMatch = (0 until nBands).foldRight(lit(-1L)) { (j, later) =>
          when(shiftright(xor, j * bits).bitwiseAND(mask) === 0, lit(j.toLong))
            .otherwise(later)
        }
        banded.as("x").join(banded.as("y"),
            col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
          .filter(shiftright(col("x.bkey"), 48) === firstMatch)
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      } else {
        DedupOps.cappedSelfJoinPairs(banded, cap)
      }
    verifyCosine(candidates, corpus, corpus, threshold)
  }

  /** Cross-corpus embedding near-dup pairs: for each `left` vector, the
    * `right` vectors with cosine >= threshold — the vector member of the
    * incremental-dedup family ([[graft.operators.DedupOps.crossDupPairs]]
    * is the text member). Candidates come from shared sign-LSH band keys
    * across the two indexes (the hyperplanes are dimension-derived, so
    * both sides hash identically) with the shared cross flood guard;
    * survivors are exact-cosine verified. */
  def crossCosineDupPairs(left: DataFrame, right: DataFrame, threshold: Double,
      cap: Int = DedupOps.DefaultBucketCap): DataFrame = {
    val bits = bandBitsFor(threshold)
    val nBands = math.min(16, NumPlanes / bits)
    val mask = (1L << bits) - 1
    val bkL = CacheScope.persistTracked(signBuckets(left, "vec_id"))
    val bkR = CacheScope.persistTracked(signBuckets(right, "vec_id"))
    def banded(buckets: DataFrame): DataFrame = {
      val keys = (0 until nBands).map { j =>
        lit(j.toLong << 48).bitwiseOR(shiftright(col("bucket"), j * bits).bitwiseAND(mask))
      }
      buckets.select(col("vec_id").as("id"), col("bucket"),
        explode(array(keys: _*)).as("bkey"))
    }
    val bL = banded(bkL)
    val bR = banded(bkR)
    // Cross twin of [[cosineNearDupPairs]]'s first-matching-band
    // emission: in the healthy-bucket regime (no RIGHT band bucket over
    // the flood cap — the cross guard is right-membership, decided by
    // one tiny aggregation over the cached right sign buckets) a pair's
    // shared bands are a pure function of the two 64-bit buckets both
    // join sides carry, so each qualifying pair is emitted from its
    // FIRST matching band only and the `distinct()` of the multiplied
    // pair stream (the crossCappedPairs shuffle that grows with
    // candidate volume × shared-band multiplicity) disappears. Over the
    // cap, the representative star-edge semantics of
    // [[DedupOps.crossCappedPairs]] apply unchanged.
    val maxRsz = bR.groupBy(col("bkey")).agg(count(lit(1)).as("bsz"))
      .agg(max(col("bsz"))).head(1).headOption
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).getOrElse(0L)
    val candidates =
      if (maxRsz <= cap) {
        val xor = col("l.bucket").bitwiseXOR(col("r.bucket"))
        val firstMatch = (0 until nBands).foldRight(lit(-1L)) { (j, later) =>
          when(shiftright(xor, j * bits).bitwiseAND(mask) === 0, lit(j.toLong))
            .otherwise(later)
        }
        bL.as("l").join(bR.as("r"), col("l.bkey") === col("r.bkey"))
          .filter(shiftright(col("l.bkey"), 48) === firstMatch)
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      } else {
        DedupOps.crossCappedPairs(bL, bR, cap)
      }
    verifyCosine(candidates, left, right, threshold)
  }

  /** SemDedup-style semantic deduplication (cluster-then-prune, the method
    * of Abbas et al. 2023): cluster the corpus with the Lloyd-trained
    * coarse quantizer (multi-probe: each vector lands in its `replicas`
    * nearest lists, the IVF serve trick turned on the corpus itself),
    * then mark a vector as a semantic duplicate iff some vector with a
    * smaller id *sharing any list* has cosine >= `threshold` — the
    * deterministic stand-in for the paper's keep-one-per-epsilon-ball
    * choice. Output `(vec_id, is_dup)` for every corpus vector.
    *
    * Scale shape: no all-pairs stage anywhere. Candidate pairs come from
    * the list id as an LSH-style bucket key through
    * [[DedupOps.cappedSelfJoinPairs]] — Lloyd balance keeps lists at
    * ~replicas·N/nLists (~sqrt(N) by default), and a runaway list
    * degrades to star edges against its min-id representative, which
    * preserves exactly the keep-lowest-id semantics this operator needs
    * (a member is compared to the representative it would defer to). The
    * verify is the codegen'd cosine over candidates only. Like all
    * cluster-bounded dedup, recall is approximate: a near-dup pair with
    * no list in common is missed (the paper accepts the same trade) —
    * but `replicas = 3` catches the dominant boundary-split miss (a pair
    * straddling adjacent cells shares a neighbour cell), measured
    * against all-pairs brute force with a spec-enforced recall floor in
    * DedupAnnSpec (SCALE.md "Answer-quality floors"). */
  def semDedup(corpus: DataFrame, threshold: Double, nLists: Int = 0,
      iters: Int = 3, cap: Int = DedupOps.DefaultBucketCap,
      replicas: Int = 3): DataFrame = {
    val (_, assigned) = ivfIndex(corpus, nLists, iters, replicas = replicas)
    val keyed = assigned.select(col("c_id").as("id"), col("list").cast("long").as("bkey"))
    val dupPairs = verifyCosine(DedupOps.cappedSelfJoinPairs(keyed, cap),
      corpus, corpus, threshold)
    val dropped = dupPairs.select(col("id_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    corpus.select(col("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** Exact-cosine verification of candidate pairs: `id_a` against
    * `corpusA`, `id_b` against `corpusB`. */
  private def verifyCosine(candidates: DataFrame, corpusA: DataFrame,
      corpusB: DataFrame, threshold: Double): DataFrame = {
    val ea = corpusA.select(col("vec_id").as("id_a"), asDouble(col("embedding")).as("emb_a"))
    val eb = corpusB.select(col("vec_id").as("id_b"), asDouble(col("embedding")).as("emb_b"))
    candidates.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("emb_a"), col("emb_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
