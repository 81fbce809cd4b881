package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Dedup + similarity-search behavior: MinHash signature similarity
  * approximates true Jaccard, LSH candidate recall, SimHash locality,
  * and ANN recall of the LSH path against the exact baseline. */
class DedupAnnSpec extends SparkSpec {

  private def corpus = Tables.corpus(spark, sf0001)

  test("minhash signature agreement approximates exact Jaccard") {
    val sh = DedupOps.shingleSets(corpus)
    val sigs = DedupOps.minhashSignatures(sh)
    // Known near-dup pair: doc 7 and its +20000 tail-modified copy.
    val rows = sigs.filter(col("doc_id").isin(7L, 20007L))
      .orderBy("doc_id").collect()
    assert(rows.length === 2)
    val (s1, s2) = (rows(0).getSeq[Long](1), rows(1).getSeq[Long](1))
    val sigAgree = s1.zip(s2).count { case (a, b) => a == b }.toDouble / s1.length
    val st = sh.filter(col("doc_id").isin(7L, 20007L)).orderBy("doc_id").collect()
    val (t1, t2) = (st(0).getSeq[String](1).toSet, st(1).getSeq[String](1).toSet)
    val trueJ = (t1 & t2).size.toDouble / (t1 | t2).size
    assert(trueJ > 0.6, s"derivation should make doc 7 a near dup, got $trueJ")
    assert(math.abs(sigAgree - trueJ) < 0.2,
      s"signature agreement $sigAgree should approximate Jaccard $trueJ")
  }

  test("identical texts have identical signatures and are always candidates") {
    val sigs = DedupOps.minhashSignatures(DedupOps.shingleSets(corpus))
    val rows = sigs.filter(col("doc_id").isin(5L, 10005L)).collect()
    assert(rows.length === 2)
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1))
    val cand = DedupOps.lshCandidatePairs(sigs)
      .filter(col("id_a") === 5 && col("id_b") === 10005)
    assert(cand.count() === 1)
  }

  test("near-dup pairs: LSH-pruned result equals all-pairs ground truth") {
    val got = DedupOps.nearDupPairs(corpus, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth via brute force on the same shingle sets.
    val sh = DedupOps.shingleSets(corpus)
    val a = sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("st", "st_a")
    val b = sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("st", "st_b")
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("st_a"), col("st_b"))).cast("double")
          / size(array_union(col("st_a"), col("st_b")))).as("j"))
      .filter(col("j") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    assert(got.nonEmpty)
  }

  test("exact jaccard pairs equal all-pairs brute force (recall 1 by construction)") {
    val got = DedupOps.jaccardPairs(corpus, threshold = 0.5, shingleN = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = DedupOps.shingleSets(corpus, n = 2)
    val a = sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("st", "st_a")
    val b = sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("st", "st_b")
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("st_a"), col("st_b"))).cast("double")
          / size(array_union(col("st_a"), col("st_b")))).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    assert(got.nonEmpty)
  }

  test("simhash: exact duplicates at distance 0, locality for near dups") {
    val sigs = DedupOps.simhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sigs(5L) ^ sigs(10005L)) === 0)
    // A 3-token tail on a ~50-token doc flips few sign bits; random doc
    // pairs average ~32. Locality, not an exact threshold.
    val nearDist = java.lang.Long.bitCount(sigs(7L) ^ sigs(20007L))
    assert(nearDist <= 16, s"tail-modified copy at hamming $nearDist")
    val farDist = java.lang.Long.bitCount(sigs(7L) ^ sigs(123L))
    assert(nearDist < farDist, s"near $nearDist should beat unrelated $farDist")
  }

  test("LSH ANN recall against the exact baseline") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = EmbeddingOps.exactTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = EmbeddingOps.lshTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH top-k recall: $recall")
    // 16 bands x 4 bits over 64 planes: predicted ~0.9 at the corpus's
    // neighbor angles (r2's 4 bands over 16 planes measured 0.47).
    assert(recall >= 0.6, s"recall $recall")
    // Precision of what LSH returns, re-ranked by exact cosine, is
    // structurally 1.0 for pairs it finds; sanity: every query answered.
    assert(approx.map(_._1).size === 20)
  }

  test("IVF ANN recall against the exact baseline; trained lists balance") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = EmbeddingOps.exactTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = EmbeddingOps.ivfTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF top-k recall: $recall")
    assert(recall >= 0.9, s"recall $recall")
    assert(ivf.map(_._1).size === 20, "every query answered")

    // Quantizer quality: Lloyd-trained lists must not collapse into a few
    // hot lists (r2's untrained id-sampled centroids skewed badly).
    val (_, assigned) = EmbeddingOps.ivfIndex(emb)
    val sizes = assigned.groupBy("list").count().collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / sizes.length
    info(s"IVF list sizes: n=${sizes.length} max=${sizes.max} mean=$mean")
    assert(sizes.max <= 4 * mean, s"max list ${sizes.max} vs mean $mean")
  }

  test("PQ/ADC recall against the exact baseline; codebooks stay in use") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = EmbeddingOps.exactTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = EmbeddingOps.pqTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"PQ top-k recall: $recall")
    // 16 subspaces x 32 codes over dim 64 (4 dims/sub), ADC ordering +
    // 8x rerank pool: measured 0.95 on this corpus (the sweep that chose
    // the defaults: m=4 was 0.32-0.58 across pools — near-random unit
    // vectors need fine subspaces before ADC carries signal).
    assert(recall >= 0.8, s"recall $recall")
    assert(pq.map(_._1).size === 20, "every query answered")

    // Codebook quality: most codes of every subspace should quantize a
    // non-trivial share of the corpus (a collapsed codebook means the
    // Lloyd refinement degenerated to a couple of live codes and ADC
    // scores carry ~no information).
    val books = EmbeddingOps.pqCodebooks(emb)
    assert(books.length === 16 && books.forall(_.length === 32))
    assert(books.forall(_.forall(_.length === 4))) // dim 64 / m 16
    // PER SUBSPACE (posexplode), not the cross-subspace union — a single
    // collapsed subspace (the ADC-carries-no-signal failure) must not
    // hide behind the other 15 (r15 review).
    val liveBySub = EmbeddingOps.pqEncode(emb, books)
      .selectExpr("posexplode(pqcodes) AS (s, c)")
      .groupBy("s").agg(countDistinct("c").as("live"))
      .collect().map(r => r.getLong(1))
    info(s"PQ live codes per subspace: min=${liveBySub.min} max=${liveBySub.max}")
    assert(liveBySub.length === 16)
    assert(liveBySub.min >= 16,
      s"a subspace quantizes with only ${liveBySub.min} of 32 live codes")

    // Determinism: retraining on the same corpus is bit-identical (the
    // fixed-point Lloyd contract the oracle replay depends on).
    val again = EmbeddingOps.pqCodebooks(emb)
    assert(books.zip(again).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
  }

  test("PQ training, encoding, and answers are invariant to corpus partitioning") {
    // The fixed-point Lloyd contract extends to PQ: treeReduce fold order
    // (= partition layout) must not change the trained codebooks, the
    // encoded ids, or the final answers — the structural guarantee the
    // oracle replay (and any 1000-executor run) rests on.
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val books1 = EmbeddingOps.pqCodebooks(emb)
    val books7 = EmbeddingOps.pqCodebooks(emb.repartition(7))
    assert(books1.zip(books7).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } },
      "codebooks differ under repartitioning")
    def codes(df: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.pqEncode(df, books1).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(codes(emb) === codes(emb.repartition(7)),
      "encoded ids differ under repartitioning")
    def answers(df: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.pqTopK(df, queries, 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(answers(emb) === answers(emb.repartition(7)),
      "pqTopK answers differ under repartitioning")
  }

  test("PQ index persists: reloaded codebooks + codes answer identically") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val books = EmbeddingOps.pqCodebooks(emb)
    val encoded = EmbeddingOps.pqEncode(emb, books)
    val path = java.nio.file.Files.createTempDirectory("graft-pq").toString + "/idx"
    EmbeddingOps.savePqIndex(spark, books, encoded, path)
    val (rb, re) = EmbeddingOps.loadPqIndex(spark, path)
    // Doubles and ints round-trip parquet exactly — the reloaded index is
    // the same model.
    assert(rb.length === books.length)
    assert(rb.zip(books).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = rows(EmbeddingOps.pqTopKWith(books, encoded, emb, queries, 3))
    val served = rows(EmbeddingOps.pqTopKWith(rb, re, emb, queries, 3))
    assert(served === direct, "serve-from-artifact must answer identically")
  }

  test("IVF-PQ composition recall against the exact baseline") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = EmbeddingOps.exactTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = EmbeddingOps.ivfPqTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(s"IVF-PQ top-k recall: $recall")
    // Bounded by both stages' recall (IVF ~0.9+, PQ-over-probed ~0.95).
    assert(recall >= 0.75, s"recall $recall")
    assert(ivfpq.map(_._1).size === 20, "every query answered")
  }

  test("IVF quantizer persists: reloaded centroids answer identically") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val (centroids, assigned) = EmbeddingOps.ivfIndex(emb)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/quantizer"
    EmbeddingOps.saveQuantizer(spark, centroids, path)
    val reloaded = EmbeddingOps.loadQuantizer(spark, path)
    // Doubles round-trip parquet exactly — the reloaded quantizer is the
    // same model, not an approximation.
    assert(reloaded.length === centroids.length)
    assert(reloaded.zip(centroids).forall { case (a, b) => a.sameElements(b) })
    val direct = EmbeddingOps.ivfTopKWith(centroids, assigned, emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val probed = EmbeddingOps.ivfTopKWith(reloaded, assigned, emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === direct, "probe-only path must answer identically from the artifact")
  }

  test("a zero-norm embedding never ranks as a neighbor on any path") {
    import graft.SharedSpark.spark.implicits._
    // 6 real vectors + one all-zero degenerate; ask for top-5 so the
    // degenerate WOULD appear if merely ranked low instead of excluded.
    val base = (0L until 6L).map(i =>
      (i, Seq.tabulate(8)(j => (((i + 1) * (j + 2)) % 7 + 1).toFloat)))
    val corpus = (base :+ ((99L, Seq.fill(8)(0.0f)))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("neighbor_id").collect().map(_.getLong(0)).toSet
    val exact = ids(EmbeddingOps.exactTopK(corpus, queries, 5))
    assert(!exact.contains(99L), s"exact ranked the zero vector: $exact")
    assert(exact.size === 5 && exact.subsetOf(Set(0L, 1L, 2L, 3L, 4L, 5L)),
      s"top-5 must be real vectors only: $exact")
    val quant = ids(EmbeddingOps.quantizedTopK(corpus, queries, 5))
    assert(!quant.contains(99L), s"quantized ranked the zero vector: $quant")
    val ivf = ids(EmbeddingOps.ivfTopK(corpus, queries, 5, nLists = 1))
    assert(!ivf.contains(99L), s"ivf ranked the zero vector: $ivf")
    // A zero-norm QUERY has no direction either: no output rows.
    val zq = corpus.filter(col("vec_id") === 99L)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    assert(EmbeddingOps.exactTopK(corpus, zq, 3).count() === 0L)
  }

  test("IVF+int8: huge rerankFactor degenerates to ivfTopKWith; default keeps recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val (centroids, assigned) = EmbeddingOps.ivfIndex(emb)
    val full = EmbeddingOps.ivfTopKWith(centroids, assigned, emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // With m >= every candidate list, the int8 prune keeps everything —
    // the three-stage path must equal the two-stage one exactly.
    val noPrune = EmbeddingOps.ivfQuantizedTopKWith(
        centroids, assigned, emb, queries, 3, rerankFactor = 1000000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(noPrune === full)
    // Default prune: int8 rounding may demote near-ties past the top-m
    // cut, but recall vs the unpruned path must stay high.
    val pruned = EmbeddingOps.ivfQuantizedTopKWith(
        centroids, assigned, emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val recall = (full & pruned).size.toDouble / full.size
    info(s"IVF+int8 recall vs unpruned IVF: $recall")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF serve lifecycle: train-once/save/serve-from-artifact equals in-memory") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val gs = new graft.GraftSession(spark)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    gs.ivfTrain(emb, path)
    // The artifact is the full index: quantizer + O(corpus) assignment.
    assert(new java.io.File(s"$path/quantizer").exists())
    assert(new java.io.File(s"$path/assignment").exists())
    val served = gs.similarityTopKIvfServed(emb, queries, 3, path)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // Training is deterministic (hashed-id seed sample, fixed-partition
    // Lloyd reduction), so an independent in-memory train+probe must give
    // the same answer the artifact serve path gives.
    val inMem = EmbeddingOps.ivfTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served === inMem, "serve-from-artifact must equal the in-memory result")
    // ivfAssign against the reloaded quantizer reproduces the persisted
    // assignment — a serve job can refresh the corpus side without
    // retraining.
    val (centroids, assigned) = EmbeddingOps.loadIndex(spark, path)
    val reassigned = EmbeddingOps.ivfAssign(emb, centroids)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val persisted = assigned.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(reassigned === persisted)
  }

  test("skew guard: banded self-joins stay linear under a near-dup flood") {
    // 2000 near-identical docs (one clique) — all-pairs within their shared
    // LSH buckets would be ~2M candidate pairs. With a bucket cap the
    // candidate count must stay O(N): star edges keep the clique connected.
    val flood = spark.range(2000).selectExpr(
      "id + 1000000 AS doc_id",
      "concat('the same boilerplate text repeated for the flood case over and over ', " +
        "'again with enough words to shingle properly number ', CAST(id % 7 AS STRING)) AS text")
    val docs = corpus.select("doc_id", "text").unionByName(flood)
    val sigs = DedupOps.minhashSignatures(DedupOps.shingleSets(docs))
    val candidates = DedupOps.lshCandidatePairs(sigs, cap = 100)
    val n = candidates.count()
    info(s"flood candidates with cap=100: $n")
    assert(n < 20000, s"candidate count $n must be O(N), not O(N^2)")
    // Connectivity survives the cap: every flood doc appears in some pair.
    val floodIds = candidates
      .filter(col("id_a") >= 1000000L || col("id_b") >= 1000000L)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .filter(col("id") >= 1000000L).distinct().count()
    assert(floodIds === 2000L, s"flood members linked: $floodIds")
  }

  test("cross-corpus dedup finds every injected duplicate against the base") {
    // Injected exact dups (+10000) must pair with their source at J=1.0;
    // tail-modified copies (+20000) at their true Jaccard >= 0.6.
    val left = corpus.filter(col("doc_id") >= 10000)
    val right = Tables.documents(spark, sf0001)
    val pairs = DedupOps.crossDupPairs(left, right, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = left.filter(col("doc_id") < 20000).select("doc_id")
      .collect().map(_.getLong(0))
    exact.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id - 10000 && p._3 == 1.0),
        s"injected exact dup $id must match its source at J=1.0")
    }
    // No base-vs-base or left-vs-left pairs leak in.
    assert(pairs.forall { case (a, b, _) => a >= 10000 && b < 10000 })
  }

  test("cross-corpus flood cap degrades to the bucket representative") {
    import graft.SharedSpark.spark.implicits._
    val base = (0L until 60L).map(i => (i, "the same boilerplate text repeated many times"))
      .toDF("doc_id", "text")
    val fresh = Seq((1000L, "the same boilerplate text repeated many times"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.crossDupPairs(fresh, base, threshold = 0.9, cap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // Every band bucket floods (all 60 identical) → only the min-id
    // representative pairs with the new doc; detection preserved.
    assert(pairs === Array((1000L, 0L)))
  }

  test("clusters on an empty pair set returns an empty frame") {
    import graft.SharedSpark.spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.clusters(noPairs).count() === 0L)
  }

  test("quantized ANN is invariant to corpus partitioning") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.quantizedTopK(c, queries, 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(emb) === run(emb.repartition(29)))
  }

  test("clusters: distributed components equal driver-side union-find") {
    val pairs = DedupOps.nearDupPairs(corpus, threshold = 0.6)
    val edges = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // Driver-side ground truth: union-find over the same edges.
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(k => k -> find(k)).toMap
    // localThreshold = 0 forces the distributed label-propagation mode;
    // the default gate takes the driver union-find path on a set this
    // small — assert both agree with the ground truth and each other.
    val distributed = DedupOps.clusters(pairs, localThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = DedupOps.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === truth)
    assert(local === truth)
    assert(truth.values.toSet.size > 1, "multiple clusters expected")
  }

  test("driver union-find survives a million-edge descending chain (iterative find)") {
    // r10 VERDICT #4: edges (n-i, n-i-1) processed in descending order
    // build an O(n) parent chain during the union phase without any find
    // ever walking it — each union touches only fresh nodes. The
    // RESOLUTION pass then walks the full chain at once; the old
    // recursive find overflowed the stack just under the 2^20-edge gate.
    val n = 1000000L
    val chain = spark.range(n).selectExpr(s"$n - id AS id_a", s"$n - id - 1 AS id_b")
    val labels = DedupOps.clusters(chain) // 1e6 < 2^20: driver path
    assert(labels.count() === n + 1)
    assert(labels.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("clusters survive the capped flood: one component, linear work") {
    val flood = spark.range(500).selectExpr(
      "id + 2000000 AS doc_id",
      "concat('flood cluster text with plenty of words to shingle across the set ', " +
        "CAST(id % 5 AS STRING)) AS text")
    val docs = corpus.select("doc_id", "text").unionByName(flood)
    val pairs = DedupOps.nearDupPairs(docs, threshold = 0.6, cap = 50)
    // Distributed mode: the flood is the case the scale path exists for.
    val labels = DedupOps.clusters(pairs, localThreshold = 0)
      .filter(col("doc_id") >= 2000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 500, "every flood doc is in a cluster")
    assert(labels.map(_._2).toSet === Set(2000000L),
      "star-capped candidates still connect the flood into one component")
  }

  test("simhash block-pair banding: recall 1.0 up to the hamming bound") {
    // Pigeonhole: d <= 6 damaged bits leave >= 2 intact byte blocks, so some
    // block pair is intact. Verify against brute force on the fingerprints.
    val sigs = DedupOps.simhashSignatures(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, fa) <- sigs; (ib, fb) <- sigs if ia < ib
      if java.lang.Long.bitCount(fa ^ fb) <= 6
    } yield (ia, ib)).toSet
    val got = DedupOps.simhashPairs(corpus, maxDist = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
    assert(got.nonEmpty, "derived corpus should contain simhash near-dups")
  }

  test("embedding near-dup bands adapt to the threshold") {
    // Low threshold -> coarse 4-bit bands; high threshold -> wide bands.
    assert(EmbeddingOps.bandBitsFor(0.4) === 4)
    assert(EmbeddingOps.bandBitsFor(0.9) >= 6)
    assert(EmbeddingOps.bandBitsFor(0.99) >= 14)
  }

  test("embedding near-dup: perfect precision, useful recall vs brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = EmbeddingOps.cosineNearDupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), EmbeddingOps.cosine(col("ea"), col("eb")).as("s"))
      .filter(col("s") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "every returned pair must truly exceed the threshold")
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.25, s"recall $recall") // sign-LSH at cos~0.4: ~0.5 expected
  }

  test("embedding near-dup first-match fast path == capped self-join pair set") {
    // The r16 healthy-regime path (emit each pair from its first
    // matching band, no distinct) must produce the EXACT pair set of
    // the generic capped self-join it replaces.
    val emb = Tables.embeddings(spark, sf0001)
    val bits = EmbeddingOps.bandBitsFor(0.4)
    val banded = EmbeddingOps.bandKeys(
      EmbeddingOps.signBuckets(emb, "vec_id"), "vec_id", bits)
    val generic = DedupOps.cappedSelfJoinPairs(banded, DedupOps.DefaultBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = EmbeddingOps.cosineNearDupPairs(emb, 0.4, DedupOps.DefaultBucketCap)
      .select(col("id_a"), col("id_b"))
    // fast is post-verify; the generic set post-verify must match — run
    // the same cosine verify over the generic candidates.
    val ve = emb.select(col("vec_id"), col("embedding"))
    val ga = ve.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val gb = ve.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    import graft.SharedSpark.spark.implicits._
    val genericVerified = generic.toSeq.toDF("id_a", "id_b")
      .join(ga, "id_a").join(gb, "id_b")
      .filter(EmbeddingOps.cosine(col("ea"), col("eb")) >= 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fastSet = fast.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastSet === genericVerified)
    assert(fastSet.nonEmpty)
  }

  test("cross-corpus embedding near-dup: perfect precision, recall vs brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val left = emb.filter(col("vec_id") % 10 === 0)
    val right = emb.filter(col("vec_id") % 10 =!= 0)
    val got = EmbeddingOps.crossCosineDupPairs(left, right, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = left.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val b = right.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    val truth = a.crossJoin(b)
      .select(col("id_a"), col("id_b"), EmbeddingOps.cosine(col("ea"), col("eb")).as("s"))
      .filter(col("s") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "every returned pair must truly exceed the threshold")
    assert(got.forall { case (l, r) => l % 10 == 0 && r % 10 != 0 }, "sides must not mix")
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.25, s"recall $recall")
  }

  test("cross near-dup first-match fast path == capped cross-join pair set") {
    // The r16 healthy-regime cross path (emit each pair from its first
    // matching band, no distinct) must produce the EXACT verified pair
    // set of the generic capped cross join it replaces.
    val emb = Tables.embeddings(spark, sf0001)
    val left = emb.filter(col("vec_id") % 10 === 0)
    val right = emb.filter(col("vec_id") % 10 =!= 0)
    val bits = EmbeddingOps.bandBitsFor(0.4)
    val bL = EmbeddingOps.bandKeys(EmbeddingOps.signBuckets(left, "vec_id"), "vec_id", bits)
    val bR = EmbeddingOps.bandKeys(EmbeddingOps.signBuckets(right, "vec_id"), "vec_id", bits)
    val generic = DedupOps.crossCappedPairs(bL, bR, DedupOps.DefaultBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ga = left.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val gb = right.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    import graft.SharedSpark.spark.implicits._
    val genericVerified = generic.toSeq.toDF("id_a", "id_b")
      .join(ga, "id_a").join(gb, "id_b")
      .filter(EmbeddingOps.cosine(col("ea"), col("eb")) >= 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fastSet = EmbeddingOps.crossCosineDupPairs(left, right, 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fastSet === genericVerified)
    assert(fastSet.nonEmpty)
  }

  test("semDedup with nLists=1 equals global keep-lowest-id brute force") {
    // One cluster = no boundary effects: the prune must match the global
    // definition exactly (x is a dup iff some smaller-id y has cos >= t).
    val emb = Tables.embeddings(spark, sf0001)
    val got = EmbeddingOps.semDedup(emb, threshold = 0.4, nLists = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    val dupTruth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), EmbeddingOps.cosine(col("ea"), col("eb")).as("s"))
      .filter(col("s") >= 0.4)
      .select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got.size === emb.count(), "one verdict per corpus vector")
    assert(got.filter(_._2).keySet === dupTruth)
    assert(dupTruth.nonEmpty, "fixture should contain semantic dups")
  }

  test("semDedup clustered: structural precision, cluster-bounded recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val flagged = EmbeddingOps.semDedup(emb, threshold = 0.4) // default ~sqrt(N) lists
      .filter(col("is_dup")).collect().map(_.getLong(0)).toSet
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").cast("array<double>").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").cast("array<double>").as("eb"))
    val dupTruth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), EmbeddingOps.cosine(col("ea"), col("eb")).as("s"))
      .filter(col("s") >= 0.4)
      .select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    // Precision is structural: a flagged vector was exact-cosine-verified
    // against a smaller-id neighbor, so it must be in the global dup set.
    assert(flagged.subsetOf(dupTruth))
    // Recall loses only cross-cluster pairs; deterministic fixture+seed.
    val recall = flagged.size.toDouble / dupTruth.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("int8 quantization: bounded reconstruction error, cosine preserved") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = EmbeddingOps.quantize(emb)
      .join(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("orig")), "vec_id")
      .collect()
    assert(q.length === emb.count())
    q.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("qemb")
      val scale = r.getDouble(r.fieldIndex("scale"))
      val orig = r.getSeq[Double](r.fieldIndex("orig"))
      assert(bytes.length === orig.length)
      // Max-abs scalar quantization: every component within scale/2.
      bytes.zip(orig).foreach { case (b, o) =>
        assert(math.abs(b * scale - o) <= scale / 2 + 1e-12)
      }
    }
  }

  test("quantized ANN recall against the exact baseline") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = EmbeddingOps.exactTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = EmbeddingOps.quantizedTopK(emb, queries, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    info(s"int8 quantized top-k recall: $recall")
    assert(recall >= 0.9, s"recall $recall")
    assert(quant.map(_._1).size === 20, "every query answered")
  }

  test("oversized query frames fail loudly instead of OOMing the driver") {
    // The query side of every top-k path is collected/broadcast; shrink
    // the broadcast budget so the whole embeddings table trips the gate.
    val emb = Tables.embeddings(spark, sf0001)
    val prev = spark.conf.getOption("spark.graft.rangejoin.maxBroadcastBytes")
    spark.conf.set("spark.graft.rangejoin.maxBroadcastBytes", "1024")
    try {
      val eQuant = intercept[IllegalArgumentException] {
        EmbeddingOps.quantizedTopK(emb, emb, 3)
      }
      assert(eQuant.getMessage.contains("maxBroadcastBytes"), eQuant.getMessage)
      val eExact = intercept[IllegalArgumentException] {
        EmbeddingOps.exactTopK(emb, emb, 3)
      }
      assert(eExact.getMessage.contains("maxBroadcastBytes"), eExact.getMessage)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.rangejoin.maxBroadcastBytes", v)
        case None => spark.conf.unset("spark.graft.rangejoin.maxBroadcastBytes")
      }
    }
  }

  test("exact ANN: ranks are 1..k per query, no self matches") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = EmbeddingOps.exactTopK(emb, emb.filter(col("vec_id") < 5), 3).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted === Array(1, 2, 3))
      rs.foreach(r => assert(r.getLong(2) !== r.getLong(0)))
    }
  }

  test("clusters throws on non-convergence instead of returning wrong ids") {
    import graft.SharedSpark.spark.implicits._
    // A pure chain has diameter n-1; maxIter=1 allows only 2 propagation
    // hops, so labels are still moving when the budget runs out.
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      DedupOps.clusters(chain, maxIter = 1, localThreshold = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // The same chain converges with the default budget.
    val labels = DedupOps.clusters(chain, localThreshold = 0).collect()
      .map(r => r.getLong(1)).toSet
    assert(labels === Set(1L))
  }

  test("CacheScope.withCaches releases exactly the operator-internal persists") {
    val sc = spark.sparkContext
    val docs = corpus
    val before = sc.getPersistentRDDs.keySet
    var inside = 0
    val pairs = CacheScope.withCaches {
      val p = DedupOps.nearDupPairs(docs, threshold = 0.6)
      p
    } { p => inside = p.collect().length }
    // Everything the operator persisted (shingle sets, band index, bucket
    // stats) is gone again; nothing else was touched.
    val after = sc.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"leaked cache ids: ${(after -- before).mkString(",")}")
    assert(inside > 0)
    // The released result recomputes correctly from the plan.
    assert(pairs.count().toInt === inside)
  }

  test("semDedup purity is exact and recall vs brute force holds its floor") {
    // r15 VERDICT #3: the ANN oracles pin determinism, not answer
    // QUALITY. Ground truth here is the full all-pairs cosine over the
    // 500-vector fixture at the ann_semdedup threshold: flagged ⇒ truly
    // within threshold of a lower id (purity 1.0 by the exact verify —
    // asserted, not assumed), and the cluster-bounded candidate cut
    // must still FIND at least 70% of the true dups (boundary-split
    // pairs are the accepted miss; measured ~0.9 on this fixture).
    val th = 0.4
    val emb = Tables.embeddings(spark, sf0001)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -2.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val trueDups = (for {
      j <- vecs.indices
      i <- 0 until j
      if cos(vecs(i)._2, vecs(j)._2) >= th
    } yield vecs(j)._1).toSet
    assert(trueDups.nonEmpty, "degenerate fixture: no near-dups at the threshold")
    val flagged = EmbeddingOps.semDedup(emb, threshold = th)
      .filter(col("is_dup")).collect().map(_.getLong(0)).toSet
    assert(flagged.subsetOf(trueDups),
      s"semDedup flagged non-duplicates: ${(flagged -- trueDups).take(5)}")
    val recall = (flagged & trueDups).size.toDouble / trueDups.size
    info(s"semDedup recall vs brute force: $recall (${trueDups.size} true dups)")
    assert(recall >= 0.7, s"semDedup recall $recall below the 0.7 floor")
  }

  test("spreadByKey is a no-op on an already-parallel input") {
    import graft.SharedSpark.spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val wide = (1L to 100L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
      .repartition(par + 4)
    // Already-parallel input: returned untouched (no exchange added).
    assert(DedupOps.spreadByKey(wide, col("doc_id")) eq wide)
    // Few-split input: a spread IS added (AQE may later coalesce the tiny
    // test exchange, so assert the decision, not the final partition count).
    val narrow = (1L to 100L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
      .coalesce(1)
    assert(!(DedupOps.spreadByKey(narrow, col("doc_id")) eq narrow))
  }

  test("capped bucket pairs equal a brute-force model in self and cross mode") {
    import graft.SharedSpark.spark.implicits._
    val cap = 4
    // Buckets of cap - 1, cap and cap + 1 rows, single-row buckets, random
    // sizes around the cap, and repeated (id, bkey) rows (ids drawn from a
    // small range, plus explicit copies). Bucket keys span the long range.
    def buckets(rnd: scala.util.Random, nKeys: Int): Seq[(Long, Long)] =
      (0 until nKeys).flatMap { b =>
        val key = if (b % 3 == 0) rnd.nextLong() else b.toLong - 5
        val size = Seq(cap - 1, cap, cap + 1, 1, 1 + rnd.nextInt(3 * cap))(b % 5)
        val ids = Seq.fill(size)(rnd.nextInt(40).toLong)
        (ids ++ ids.take(b % 2)).map(id => (id, key))
      }
    def selfModel(rows: Seq[(Long, Long)]): Set[(Long, Long)] =
      rows.groupBy(_._2).values.flatMap { b =>
        val ids = b.map(_._1)
        if (ids.size <= cap) for (a <- ids; c <- ids if a < c) yield (a, c)
        else ids.filter(_ != ids.min).map(ids.min -> _)
      }.toSet
    def crossModel(l: Seq[(Long, Long)], r: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val byKey = r.groupBy(_._2).map { case (k, b) => k -> b.map(_._1) }
      l.flatMap { case (id, k) =>
        byKey.get(k).toSeq.flatMap(ids => if (ids.size <= cap) ids.map(id -> _) else Seq(id -> ids.min))
      }.toSet
    }
    def frame(rows: Seq[(Long, Long)]) =
      spark.sparkContext.parallelize(rows, 3).toDF("id", "bkey")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      try df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally df.unpersist()
    val rnd = new scala.util.Random(7)
    val left = buckets(rnd, 60)
    val right = buckets(rnd, 60) ++ left.take(40).map { case (id, k) => (id + 100, k) }
    val cases = Seq((left, right), (Seq.empty[(Long, Long)], right), (left, Seq.empty[(Long, Long)]))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (parts <- Seq(1, 7); adaptive <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        graft.SharedSpark.withShufflePartitions(parts) {
          cases.foreach { case (l, r) =>
            val at = s"shuffle partitions $parts, adaptive $adaptive, ${l.size} x ${r.size} rows"
            val self = pairs(DedupOps.cappedSelfJoinPairs(frame(r), cap))
            assert(self.toSet === selfModel(r), at)
            assert(self.size === self.toSet.size, s"self pairs repeat: $at")
            val cross = pairs(DedupOps.crossCappedPairs(frame(l), frame(r), cap))
            assert(cross.toSet === crossModel(l, r), at)
            assert(cross.size === cross.toSet.size, s"cross pairs repeat: $at")
          }
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(selfModel(right).nonEmpty && crossModel(left, right).nonEmpty)
  }

  test("a flooded bucket streams its star edges from a bounded buffer") {
    // One bucket of a million rows at cap 10: the first pair is out after
    // reading cap + 1 rows, and the whole bucket yields rows - 1 edges.
    val rows = 1000000
    var read = 0
    val in = Iterator.range(0, rows).map { i => read += 1; (42L, false, i.toLong) }
    val out = DedupOps.bucketPairs(in, 10, cross = false)
    assert(out.next() === ((0L, 1L)))
    assert(read === 11)
    assert(out.size === rows - 2)
    assert(read === rows)
  }

  test("embedding near-dup over the cap takes the kernel's capped pairs") {
    val emb = Tables.embeddings(spark, sf0001)
    val left = emb.filter(col("vec_id") % 10 === 0)
    val right = emb.filter(col("vec_id") % 10 =!= 0)
    val bits = EmbeddingOps.bandBitsFor(0.4)
    def banded(df: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.bandKeys(EmbeddingOps.signBuckets(df, "vec_id"), "vec_id", bits)
    // One below the largest bucket (of the right side, for cross): both
    // entry points leave the first-match path for the kernel.
    def capOf(df: org.apache.spark.sql.DataFrame): Int =
      banded(df).groupBy("bkey").count().agg(max("count")).head.getLong(0).toInt - 1
    def pairSet(df: org.apache.spark.sql.DataFrame, verified: Boolean) = {
      val rows = df.collect()
      if (verified) assert(rows.forall(_.getDouble(2) >= 0.4))
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val capS = capOf(emb)
    val self = pairSet(EmbeddingOps.cosineNearDupPairs(emb, 0.4, capS), verified = true)
    assert(self.nonEmpty)
    assert(self.subsetOf(pairSet(DedupOps.cappedSelfJoinPairs(banded(emb), capS), verified = false)))
    val capR = capOf(right)
    val cross = pairSet(EmbeddingOps.crossCosineDupPairs(left, right, 0.4, capR), verified = true)
    assert(cross.nonEmpty)
    assert(cross.subsetOf(
      pairSet(DedupOps.crossCappedPairs(banded(left), banded(right), capR), verified = false)))
  }

  test("nearDupPairs takes its candidates from one bucket exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // Every node of an executed plan, into adaptive stages and cached plans.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case r: ReusedExchangeExec => r +: nodes(r.child)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def onBkey(e: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      e.exists(_.references.exists(_.name == "bkey"))
    val pairs = DedupOps.nearDupPairs(corpus, threshold = 0.6)
    assert(pairs.collect().nonEmpty)
    val all = nodes(pairs.queryExecution.executedPlan)
    // The verify joins may broadcast candidate pairs; band rows carry bkey.
    val bandBroadcasts = all.collect {
      case b: BroadcastExchangeExec if b.child.output.exists(_.name == "bkey") => b
    }
    assert(bandBroadcasts.isEmpty, s"the band index is broadcast:\n${bandBroadcasts.mkString("\n")}")
    val bkeyExchanges = all.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning if onBkey(h.expressions) => h }
    assert(bkeyExchanges.size === 1, s"exchanges on bkey: $bkeyExchanges")
    val bkeyAggregates = all.collect {
      case a: BaseAggregateExec if onBkey(a.groupingExpressions) => a
    }
    assert(bkeyAggregates.isEmpty, s"bucket stats aggregate:\n${bkeyAggregates.mkString("\n")}")
  }
}
