package graftbench

import graft.operators.{DedupOps, EmbeddingOps, TextOps}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-data half: near-duplicate pairs and clusters over a corpus
  * with injected near-duplicates, a streaming dedup gate for arriving
  * batches against the base corpus, IVF train and serve over clustered
  * vectors, and tokenization. The genomic planner rules run on every
  * query here but never fire, so `plans.plan` is their overhead alone. */
final class CorpusCurate(seed: Long, toy: Boolean) extends Workload {
  val name = "corpus_curate"

  val docs: Gen.DocSpec =
    if (toy) Gen.DocSpec(n = 600, parts = 2) else Gen.DocSpec(n = 4000)
  val batchCount: Int = if (toy) 1 else 2
  val batchDocs: Long = if (toy) 100 else 500
  def batch(b: Int): Gen.DocSpec = Gen.DocSpec(n = batchDocs, idBase = 1000000000L + b * 1000000L,
    sourceN = docs.n, parts = if (toy) 1 else 4)
  val vecs: Gen.VecSpec = if (toy) Gen.VecSpec(n = 2000, parts = 2) else Gen.VecSpec(n = 10000)
  val queries: Gen.VecSpec = vecs.copy(n = if (toy) 20 else 100, idBase = 1000000000L, parts = 1)
  val threshold = 0.8
  val k = 10
  /** IVF recall floor `DedupAnnSpec` enforces. */
  val recallFloor = 0.9

  private var docDf: DataFrame = _
  private var batchDfs: Seq[DataFrame] = Nil
  private var vecDf: DataFrame = _
  private var queryDf: DataFrame = _
  private var digestHex = ""

  def setup(spark: SparkSession, probe: Probe, dir: String): Unit = probe.span("session.inputs") {
    docDf = Gen.docs(spark, docs, seed).cache()
    batchDfs = (0 until batchCount).map { b =>
      Gen.docs(spark, batch(b), seed)
        .withColumn("ts", timestamp_seconds(col("doc_id") % 1000000L + lit(1700000000L))).cache()
    }
    vecDf = Gen.vectors(spark, vecs, seed).cache()
    queryDf = Gen.vectors(spark, queries, seed).cache()
    val tables = Seq(docDf, vecDf, queryDf) ++ batchDfs
    digestHex = tables.map(Gen.digest).map(x => f"$x%016x").mkString
  }

  def inputRows: Long = docs.n + batchCount * batchDocs + vecs.n + queries.n
  def digest: String = digestHex
  def sizes: Map[String, Any] = Map("docs" -> docs.n, "dup_rate" -> docs.dupRate,
    "batches" -> batchCount, "batch_docs" -> batchDocs, "vectors" -> vecs.n,
    "dim" -> vecs.dim, "clusters" -> vecs.clusters, "queries" -> queries.n)

  def pass(ctx: Ctx): Unit = {
    val p = ctx.probe
    var pairs: DataFrame = null
    ctx.step("operators.minhash_pairs") {
      pairs = ctx.materialize(DedupOps.nearDupPairs(docDf, threshold))
      p.collect(pairs.select(col("id_a"), col("id_b"))).map(r => (r.getLong(0), r.getLong(1)))
    }
    ctx.step("operators.dedup_clusters") {
      p.collect(DedupOps.clusters(pairs)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    ctx.step("streaming.dedup_gate") {
      batchDfs.map { b =>
        val gate = p.span("streaming.gate_index")(StreamingOps.dedupGateStream(b, docDf, threshold))
        p.span("streaming.gate_batch") {
          p.collect(gate.filter(col("is_dup")).select(col("doc_id"))).map(_.getLong(0)).toSet
        }
      }
    }
    var index: (Array[Array[Double]], DataFrame) = null
    ctx.step("operators.ivf_train") {
      val (cents, assigned) = EmbeddingOps.ivfIndex(vecDf)
      index = (cents, ctx.materialize(assigned))
      p.collect(index._2.agg(count(lit(1)), countDistinct(col("list")))).head
    }
    if (ctx.traced && index != null) {
      val sizes = index._2.groupBy(col("list")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      ctx.extras("ivf_list_sizes") = (index._1, sizes)
    }
    ctx.step("operators.ivf_serve") {
      p.collect(EmbeddingOps.ivfTopKWith(index._1, index._2, vecDf, queryDf, k)
        .select(col("vec_id"), col("rank"), col("neighbor_id")))
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    ctx.step("operators.tokenize") {
      p.collect(TextOps.tokenizeEncode(docDf).agg(count(lit(1)), sum(col("n_tokens")))).head
    }
  }

  private lazy val injected: Seq[(Long, Long)] = Gen.injectedPairs(docs, seed)
  private lazy val batchDups: Seq[Set[Long]] =
    (0 until batchCount).map(b => Gen.injectedPairs(batch(b), seed).map(_._1).toSet)
  private lazy val totalTokens: Long =
    (0L until docs.n).map(i => Gen.docText(docs, seed, i).count(_ == ' ') + 1L).sum
  private lazy val exactTopK: Map[Long, Set[Long]] = {
    val corpus = (vecs.idBase until vecs.idBase + vecs.n).map(i => (i, Gen.vector(vecs, seed, i))).toArray
    (queries.idBase until queries.idBase + queries.n).map { q =>
      q -> Truth.topKCosine(Gen.vector(queries, seed, q), corpus, k).toSet
    }.toMap
  }

  /** Recall@k of served neighbours against exact cosine top-k. */
  def recall(served: Array[(Long, Int, Long)]): Double = {
    val got = served.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._3).toSet }
    exactTopK.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size }.sum.toDouble /
      exactTopK.values.map(_.size).sum
  }

  def check(out: Map[String, Any]): Map[String, String] = {
    val problems = scala.collection.mutable.Map.empty[String, String]
    def expect(step: String, ok: Boolean, msg: => String): Unit =
      if (!ok && !problems.contains(step)) problems(step) = msg
    out.get("operators.minhash_pairs").map(_.asInstanceOf[Array[(Long, Long)]]).foreach { ps =>
      val got = ps.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val missing = injected.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filterNot(got)
      expect("operators.minhash_pairs", missing.isEmpty,
        s"${missing.size} injected near-duplicate pairs missing, e.g. ${missing.take(3)}")
    }
    out.get("operators.dedup_clusters").map(_.asInstanceOf[Map[Long, Long]]).foreach { cl =>
      val split = injected.filter { case (a, b) => cl.get(a).isEmpty || cl.get(a) != cl.get(b) }
      expect("operators.dedup_clusters", split.isEmpty,
        s"${split.size} injected pairs not in one cluster, e.g. ${split.take(3)}")
    }
    out.get("streaming.dedup_gate").map(_.asInstanceOf[Seq[Set[Long]]]).foreach { flagged =>
      flagged.zip(batchDups).zipWithIndex.foreach { case ((got, want), b) =>
        expect("streaming.dedup_gate", got == want,
          s"batch $b: gate flagged ${got.size} docs, injected ${want.size}")
      }
    }
    out.get("operators.ivf_train").map(_.asInstanceOf[Row]).foreach { r =>
      expect("operators.ivf_train", r.getLong(0) >= vecs.n, s"assignment has ${r.getLong(0)} rows")
    }
    out.get("operators.ivf_serve").map(_.asInstanceOf[Array[(Long, Int, Long)]]).foreach { s =>
      val rc = recall(s)
      expect("operators.ivf_serve", rc >= recallFloor, s"recall@$k $rc below $recallFloor")
    }
    out.get("operators.tokenize").map(_.asInstanceOf[Row]).foreach { r =>
      expect("operators.tokenize", r.getLong(0) == docs.n && r.getLong(1) == totalTokens,
        s"tokenized ${r.getLong(0)} docs / ${r.getLong(1)} tokens, generated ${docs.n} / $totalTokens")
    }
    problems.toMap
  }

  def layerMetrics(r: Report): Map[String, Double] = {
    val ps = r.traced
    val emitted = r.median(ps.flatMap(p => r.output[Array[(Long, Long)]](p,
      "operators.minhash_pairs")).map(_.length.toDouble))
    val candidates = DedupOps.lshCandidatePairs(
      DedupOps.minhashSignatures(DedupOps.shingleSets(docDf))).count().toDouble
    val perQuery = r.median(ps.flatMap(p =>
      r.output[(Array[Array[Double]], Map[Int, Long])](p, "ivf_list_sizes")).map {
      case (cents, sizes) =>
        val qs = (queries.idBase until queries.idBase + queries.n)
          .map(q => Gen.vector(queries, seed, q).map(_.toDouble))
        qs.map(q => EmbeddingOps.nearestLists(q, cents, 6).map(l => sizes.getOrElse(l, 0L)).sum)
          .sum.toDouble / qs.size
    })
    val gateSpans = (n: String) => r.median(r.spans.filter(s => s.name == n &&
      ps.exists(_.index == s.pass)).map(_.wallS))
    Map(
      "operators.dedup_candidate_ratio" -> candidates / math.max(1.0, emitted),
      "operators.ivf_candidates_per_query" -> perQuery,
      "operators.ivf_recall_at_10" -> r.median(ps.flatMap(p =>
        r.output[Array[(Long, Int, Long)]](p, "operators.ivf_serve")).map(recall)),
      "streaming.gate_batch_s" -> gateSpans("streaming.gate_batch"),
      "streaming.gate_index_s" -> gateSpans("streaming.gate_index"))
  }

  def release(): Unit = (Seq(docDf, vecDf, queryDf) ++ batchDfs).filter(_ != null)
    .foreach(_.unpersist(blocking = true))
}
