package graft.queries

import graft.{OracleCtes, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-equivalence queries for the streaming gate kernels. Both gates
  * ([[StreamingOps.dedupGateStream]], [[StreamingOps.similarStream]]) are
  * stateless per-row maps over a broadcast index, so the SAME code path
  * the streaming query executes runs unchanged on a batch frame — these
  * queries invoke the gates directly on batch fixtures, giving the
  * driver's DuckDB oracle coverage over the verdict logic that
  * StreamingSpec exercises through MemoryStream.
  *
  * `stream_dedup_gate` keeps the exhaustively-checkable fields: `is_dup`
  * and `dup_of` are exact under the LSH recall the `dedup_cross` oracle
  * already proves on this fixture (all pairs ≥ threshold are found), and
  * `jaccard` is exact integer |I|/|U| division — identical doubles on
  * both sides. The below-threshold best-candidate similarity is NOT
  * emitted (the gate only scores LSH candidates there, which an
  * exhaustive SQL oracle can't mirror).
  *
  * `stream_similar_topk` is rank-only like `ann_topk`: the fixture's
  * rank margins (≥ 2e-4) dwarf any double-summation-order divergence
  * between the gate's sequential loop and DuckDB.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // The corpus's injected duplicates play the arriving stream (the same
    // "new crawl vs accepted base" split as dedup_cross); ts is a
    // deterministic function of doc_id, dropped from the output.
    "stream_dedup_gate" -> { (s, dir) =>
      val docs = Tables.corpus(s, dir).filter(col("doc_id") >= 10000)
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(1700000000L)))
      StreamingOps.dedupGateStream(docs, Tables.documents(s, dir), threshold = 0.6)
        .select(col("doc_id"), col("is_dup").cast("int").as("is_dup"),
          col("dup_of"),
          when(col("is_dup"), col("jaccard")).otherwise(lit(0.0)).as("jaccard"))
    },
    "stream_similar_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.filter(col("vec_id") < 20)
        .withColumn("ts", timestamp_seconds(col("vec_id") + lit(1700000000L)))
      StreamingOps.similarStream(vecs, emb, k = 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"))
    },
    // Streaming IVF serve kernel on a batch frame: train-once/save, then
    // answer strictly from the artifacts via stream-static joins — no
    // corpus broadcast, the serve shape a long-running ANN stream runs.
    // Oracle-checked since r8 (shares the deterministic-Lloyd replay);
    // MemoryStream equality against the batch probe path is asserted in
    // StreamingSpec.
    "stream_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.filter(col("vec_id") < 20)
        .withColumn("ts", timestamp_seconds(col("vec_id") + lit(1700000000L)))
      val path = ServeIndexCache.indexFor(s, dir, emb)
      StreamingOps.similarStreamIvf(vecs, path, emb, k = 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"))
    },
    // Streaming IVF-PQ serve kernel on a batch frame: both quantizers
    // train once and persist; the per-batch scan touches only the probed
    // lists' m-int codes, then the ADC pool's full vectors. Shares the
    // composed deterministic oracle with ann_ivfpq_topk; MemoryStream
    // equality against the batch artifact path is asserted in
    // StreamingSpec.
    "stream_ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.filter(col("vec_id") < 20)
        .withColumn("ts", timestamp_seconds(col("vec_id") + lit(1700000000L)))
      val ivfPath = ServeIndexCache.indexFor(s, dir, emb)
      val pqPath = PqServeCache.indexFor(s, dir, emb)
      StreamingOps.similarStreamIvfPq(vecs, ivfPath, pqPath, emb, k = 3)
        .select(col("vec_id"), col("rank"), col("neighbor_id"))
    },
    // Stream-static interval annotation: the same broadcast forest join
    // the streaming query runs, on a batch reads frame —
    // the oracle is the exhaustive overlap join. ts (a deterministic
    // function of pos_start) is dropped from the output: it rides the
    // kernel untouched.
    "stream_interval_annotate" -> { (s, dir) =>
      import s.implicits._
      val reads = Tables.reads(s, dir)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      // Every 10th target: same kernel coverage, a tenth of the output
      // volume for the driver's row-by-row oracle compare.
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.annotateStream(reads, targets)
        .select(col("contig"), col("pos_start"), col("pos_end"), col("target_name"))
    },
    // Stream-static COUNT annotate (featureCounts over a stream): the
    // rank-identity kernel the batch pushdown uses, statelessly per
    // micro-batch — the oracle is the exhaustive join + GROUP BY read.
    "stream_interval_count" -> { (s, dir) =>
      import s.implicits._
      val reads = Tables.reads(s, dir)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.countStream(reads, targets)
        .select(col("contig"), col("pos_start"), col("pos_end"), col("n_overlaps"))
    },
    // Stream-static NEAREST join (bedtools closest against a static
    // feature set): the same broadcast nearest probe the streaming query
    // runs, on a batch reads frame — the oracle is the
    // exhaustive min-distance window. Left thinned 7x: the oracle CTE is
    // an all-pairs-per-contig join.
    // Streaming VCF ingest kernel: variants parsed from real `.vcf` text
    // (the file-stream form, StreamingOps.vcfStream, is spec-tested with
    // availableNow; here the batch twin pins the parse+annotate result)
    // annotated against a static target set through the broadcast forest
    // join — variants land as files, the pipeline tails them.
    "stream_vcf_annotate" -> { (s, dir) =>
      import s.implicits._
      val path = SourceQueries.vcfFixture(s, dir)
      s.sql("DROP TABLE IF EXISTS vcf_stream_ddl")
      s.sql(s"""CREATE TABLE vcf_stream_ddl USING graft.sources.VcfSource
               |OPTIONS (path '$path')""".stripMargin)
      val variants = s.table("vcf_stream_ddl")
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.annotateStream(variants, targets)
        .select(col("contig"), col("pos_start"), col("pos_end"), col("target_name"))
    },
    // Streaming BAM ingest kernel: reads decoded from real binary BGZF
    // BAM (the file-stream form, StreamingOps.bamStream, is spec-tested
    // with availableNow against the batch scan; here the batch twin —
    // the same BamSource decode — pins the decode+annotate result)
    // annotated against a static target set through the broadcast forest
    // join. Completes the file-stream matrix (r15 VERDICT #7).
    "stream_bam_annotate" -> { (s, dir) =>
      import s.implicits._
      val path = SourceQueries.bamFixture(s, dir)
      s.sql("DROP TABLE IF EXISTS bam_stream_ddl")
      s.sql(s"""CREATE TABLE bam_stream_ddl USING graft.sources.BamSource
               |OPTIONS (path '$path/s1.bam')""".stripMargin)
      val reads = s.table("bam_stream_ddl")
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.annotateStream(reads, targets)
        .select(col("contig"), col("pos_start"), col("pos_end"), col("target_name"))
    },
    "stream_interval_nearest" -> { (s, dir) =>
      import s.implicits._
      val reads = Tables.reads(s, dir)
        .filter(col("pos_start") % 7 === 1)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.nearestStream(reads, targets)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          col("target_name"), col("distance"))
    },
    // Stream-static K-NEAREST join: the k=2 smallest distinct distances
    // per stream row, all ties — same kernel, DENSE_RANK oracle.
    "stream_interval_nearest_k" -> { (s, dir) =>
      import s.implicits._
      val reads = Tables.reads(s, dir)
        .filter(col("pos_start") % 7 === 1)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      val targets = Tables.targets(s, dir).filter(col("pos_start") % 10 === 3)
      StreamingOps.nearestKStream(reads, targets, 2)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          col("target_name"), col("distance"))
    },
    // Streaming windowed coverage kernel on a batch frame (withWatermark
    // and window() are batch no-op/native): mean depth per (hour window,
    // contig, 100bp tile). Integer contribution sums + one final double
    // division → exact oracle. window_start is emitted as epoch seconds
    // so both engines compare BIGINT, not timestamp encodings.
    "stream_coverage_window" -> { (s, dir) =>
      import s.implicits._
      val reads = Tables.reads(s, dir)
        .select(col("contig"), col("pos_start"), col("pos_end"),
          timestamp_seconds(col("pos_start").cast("long") * 7 + lit(1700000000L)).as("ts"))
        .as[StreamingOps.StreamRead]
      StreamingOps.windowedCoverageStream(reads, windowSize = 100)
        .select(unix_timestamp(col("window_start")).as("window_start_sec"),
          col("contig"), col("tile"), col("mean_coverage"))
    })

  val oracle: Map[String, String] = Map(
    // The streaming IVF serve kernel answers from the same persisted
    // artifacts as the batch probe path and is spec-asserted equal to it
    // row for row, so it shares the deterministic-Lloyd replay oracle
    // (see EmbeddingQueries.ivfTopKOracle).
    "stream_ann_ivf" -> EmbeddingQueries.ivfTopKOracle,
    "stream_ann_ivfpq" -> EmbeddingQueries.ivfPqTopKOracle,
    // Exhaustive verdict: best exact 3-shingle Jaccard per stream doc
    // against the whole base, dup iff best ≥ 0.6, tie-break lowest base
    // id — the gate's (jac desc, id asc) ordering. NULLIF guards the
    // both-empty-shingle-set division; NULL sorts last under DESC.
    "stream_dedup_gate" ->
      s"""WITH ${OracleCtes.corpus},
         |newdocs AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 10000),
         |wl AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM newdocs),
         |wr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |shl AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in generate_series(1, len(w)-2)]) AS st
         |  FROM wl),
         |shr AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in generate_series(1, len(w)-2)]) AS st
         |  FROM wr),
         |scored AS (SELECT a.doc_id AS doc_id, b.doc_id AS base_id,
         |  CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
         |    / NULLIF(len(list_distinct(a.st || b.st)), 0) AS j
         |  FROM shl a CROSS JOIN shr b),
         |best AS (SELECT doc_id, base_id, j,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, base_id) AS rn
         |  FROM scored)
         |SELECT n.doc_id,
         |  CAST(COALESCE(b.j >= 0.6, FALSE) AS INT) AS is_dup,
         |  CAST(CASE WHEN COALESCE(b.j >= 0.6, FALSE) THEN b.base_id ELSE -1 END AS BIGINT) AS dup_of,
         |  CASE WHEN COALESCE(b.j >= 0.6, FALSE) THEN b.j ELSE 0.0 END AS jaccard
         |FROM newdocs n
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin,
    "stream_similar_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |sims AS (
        |  SELECT q.vec_id AS vec_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q JOIN embeddings e ON q.vec_id <> e.vec_id),
        |ranked AS (SELECT vec_id, neighbor_id, sim,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |                              ORDER BY sim DESC, neighbor_id) AS rank
        |           FROM sims)
        |SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "stream_interval_annotate" ->
      s"""WITH ${OracleCtes.reads}, ${OracleCtes.targets}
         |SELECT r.contig, r.pos_start, r.pos_end, t.name AS target_name
         |FROM reads r JOIN targets t ON r.contig = t.contig
         |  AND r.pos_end >= t.pos_start AND r.pos_start <= t.pos_end
         |WHERE t.pos_start % 10 = 3""".stripMargin,
    "stream_vcf_annotate" ->
      s"""WITH v AS (
         |  SELECT CAST(p_partkey % 4 AS VARCHAR) AS contig,
         |    CAST((p_partkey * 7) % 5000 + 1 AS INT) AS pos_start,
         |    CAST((p_partkey * 7) % 5000 + 1 + p_partkey % 3 AS INT) AS pos_end
         |  FROM part), ${OracleCtes.targets}
         |SELECT v.contig, v.pos_start, v.pos_end, t.name AS target_name
         |FROM v JOIN targets t ON v.contig = t.contig
         |  AND v.pos_end >= t.pos_start AND v.pos_start <= t.pos_end
         |WHERE t.pos_start % 10 = 3""".stripMargin,
    "stream_bam_annotate" ->
      s"""WITH ${OracleCtes.reads}, ${OracleCtes.targets}
         |SELECT r.contig, r.pos_start, r.pos_end, t.name AS target_name
         |FROM reads r JOIN targets t ON r.contig = t.contig
         |  AND r.pos_end >= t.pos_start AND r.pos_start <= t.pos_end
         |WHERE t.pos_start % 10 = 3 AND r.sample_id = 's1'""".stripMargin,
    // Correlated scalar count (DuckDB decorrelates it): a join + GROUP BY
    // would merge duplicate read rows, but the kernel emits one row PER
    // stream row.
    "stream_interval_count" ->
      s"""WITH ${OracleCtes.reads}, ${OracleCtes.targets},
         |t AS (SELECT contig, pos_start, pos_end FROM targets WHERE pos_start % 10 = 3),
         |c AS (SELECT r.contig, r.pos_start, r.pos_end,
         |  (SELECT COUNT(*) FROM t WHERE t.contig = r.contig
         |     AND r.pos_end >= t.pos_start AND r.pos_start <= t.pos_end) AS n_overlaps
         |  FROM reads r)
         |SELECT contig, pos_start, pos_end, CAST(n_overlaps AS BIGINT) AS n_overlaps
         |FROM c WHERE n_overlaps > 0""".stripMargin,
    "stream_interval_nearest" ->
      s"""WITH ${OracleCtes.reads}, ${OracleCtes.targets},
         |r AS (SELECT contig, pos_start, pos_end FROM reads WHERE pos_start % 7 = 1),
         |t AS (SELECT contig, pos_start, pos_end, name FROM targets WHERE pos_start % 10 = 3),
         |pairs AS (SELECT r.contig, r.pos_start, r.pos_end, t.name AS target_name,
         |  GREATEST(t.pos_start - r.pos_end, r.pos_start - t.pos_end, 0) AS distance
         |  FROM r JOIN t ON r.contig = t.contig),
         |m AS (SELECT *, MIN(distance) OVER (
         |  PARTITION BY contig, pos_start, pos_end) AS md FROM pairs)
         |SELECT contig, pos_start, pos_end, target_name,
         |  CAST(distance AS INT) AS distance
         |FROM m WHERE distance = md""".stripMargin,
    "stream_interval_nearest_k" ->
      s"""WITH ${OracleCtes.reads}, ${OracleCtes.targets},
         |r AS (SELECT contig, pos_start, pos_end FROM reads WHERE pos_start % 7 = 1),
         |t AS (SELECT contig, pos_start, pos_end, name FROM targets WHERE pos_start % 10 = 3),
         |pairs AS (SELECT r.contig, r.pos_start, r.pos_end, t.name AS target_name,
         |  GREATEST(t.pos_start - r.pos_end, r.pos_start - t.pos_end, 0) AS distance
         |  FROM r JOIN t ON r.contig = t.contig),
         |ranked AS (SELECT *, DENSE_RANK() OVER (
         |  PARTITION BY contig, pos_start, pos_end ORDER BY distance) AS rk FROM pairs)
         |SELECT contig, pos_start, pos_end, target_name,
         |  CAST(distance AS INT) AS distance
         |FROM ranked WHERE rk <= 2""".stripMargin,
    "stream_coverage_window" ->
      s"""WITH ${OracleCtes.reads},
         |tiled AS (
         |  SELECT contig,
         |    (1700000000 + pos_start * 7) // 3600 * 3600 AS window_start_sec,
         |    unnest(generate_series((pos_start - 1) // 100, (pos_end - 1) // 100)) AS tile,
         |    pos_start, pos_end
         |  FROM reads),
         |contribs AS (
         |  SELECT contig, window_start_sec, tile,
         |    LEAST(pos_end, (tile + 1) * 100) - GREATEST(pos_start, tile * 100 + 1) + 1 AS contrib
         |  FROM tiled)
         |SELECT CAST(window_start_sec AS BIGINT) AS window_start_sec, contig,
         |  CAST(tile AS BIGINT) AS tile,
         |  CAST(SUM(contrib) AS BIGINT) / 100.0 AS mean_coverage
         |FROM contribs GROUP BY window_start_sec, contig, tile""".stripMargin)
}
