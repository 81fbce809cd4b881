package graft.queries

import graft.{OracleCtes, Tables}
import graft.operators.CoverageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage flagship queries (SURVEY §2.4 A1/A2, §2.5 W1, §2.7 T2).
  * Oracles compute per-position coverage the slow-but-obvious way
  * (unnest positions + GROUP BY) and re-derive RLE runs with the
  * gaps-and-islands window trick.
  */
object CoverageQueries {

  type Q = (SparkSession, String) => DataFrame

  private def s1Reads(s: SparkSession, dir: String): DataFrame =
    Tables.reads(s, dir).filter(col("sample_id") === "s1")

  val queries: Map[String, Q] = Map(
    // Event-array coverage → RLE blocks (A1/A2) for one sample.
    "coverage_blocks" -> { (s, dir) =>
      CoverageOps.blocks(s1Reads(s, dir))
    },
    // GATK-CallableLoci-style depth classification over s1: maximal
    // NO_COVERAGE / LOW_COVERAGE / CALLABLE / EXCESSIVE_COVERAGE runs,
    // all derived from the RLE blocks (output-sized windows only).
    "coverage_callable" -> { (s, dir) =>
      CoverageOps.callableLoci(s1Reads(s, dir), minDepth = 3, maxDepth = 6)
    },
    // Mergeable coverage (incremental-ingest law): per-sample RLE blocks
    // for s1 and s2 computed separately, then merged WITHOUT rescanning
    // reads — must equal the coverage of both samples together, which is
    // exactly what the oracle computes from the raw reads.
    "coverage_merge" -> { (s, dir) =>
      val r = Tables.reads(s, dir)
      CoverageOps.mergeCoverage(
        CoverageOps.blocks(r.filter(col("sample_id") === "s1")),
        CoverageOps.blocks(r.filter(col("sample_id") === "s2")))
    },
    // Per-target coverage summary (bedtools coverage / mosdepth regions):
    // depth blocks forest-joined to the BED-shaped targets, summed per
    // target with zero-coverage targets kept.
    // Reads restricted to the low half of the coordinate space so a band
    // of targets has NO coverage — the zero-row outer path is part of the
    // oracle check (a dense fixture would never exercise it).
    "coverage_targets" -> { (s, dir) =>
      CoverageOps.targetCoverage(
        s1Reads(s, dir).filter(col("pos_start") <= 400),
        Tables.targets(s, dir))
    },
    // Depth-of-coverage histogram (the samtools/mosdepth "coverage
    // distribution" summary): per depth, covered loci and RLE-block
    // counts. One aggregation over the already-RLE blocks — loci counted
    // as block lengths, never re-exploded per position, so the histogram
    // costs O(blocks) regardless of genome size.
    "coverage_hist" -> { (s, dir) =>
      CoverageOps.blocks(s1Reads(s, dir))
        .groupBy(col("coverage"))
        .agg((sum(col("pos_end") - col("pos_start") + 1)).cast("long").as("n_loci"),
          count(lit(1)).as("n_blocks"))
    },
    // Fixed-length window coverage (W1): mean depth per 500-bp tile.
    "coverage_window" -> { (s, dir) =>
      CoverageOps.windowed(s1Reads(s, dir), 500)
    },
    // TVF surface (T2): same result through SQL `coverage('view','sample')`.
    "coverage_tvf" -> { (s, dir) =>
      Tables.reads(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM coverage('reads_v', 's1')")
    },
    // 1-arg TVF overload: coverage over all samples pooled.
    "coverage_tvf_all" -> { (s, dir) =>
      Tables.reads(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM bdg_coverage('reads_v')")
    },
    // 3-arg TVF overload: fixed-window mean depth through SQL.
    "coverage_window_tvf" -> { (s, dir) =>
      Tables.reads(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM coverage('reads_v', 's1', 500)")
    },
    // 'bases' target: per-position depth rows through SQL.
    "coverage_bases_tvf" -> { (s, dir) =>
      Tables.reads(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM coverage('reads_v', 's1', 'bases')")
    },
    // All samples at once, one scan (beyond-reference: the reference TVF
    // re-scans per sample; composite-key event points do them together).
    "coverage_by_sample" -> { (s, dir) =>
      CoverageOps.blocksBy(Tables.reads(s, dir), Seq("sample_id"))
    })

  private[queries] val coverageOracle: String = {
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (
       |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |runs AS (
       |  SELECT contig, pos, coverage,
       |         pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp
       |  FROM cov)
       |SELECT contig, CAST(MIN(pos) AS INT) AS pos_start,
       |       CAST(MAX(pos) AS INT) AS pos_end, CAST(coverage AS INT) AS coverage
       |FROM runs GROUP BY contig, coverage, grp""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "coverage_blocks" -> coverageOracle,
    // Per-base classification (the slow-but-obvious way): coverage per
    // position, zero-filled across each contig's covered span, CASE'd
    // into the status bands, re-run-length-encoded with the
    // gaps-and-islands trick.
    "coverage_callable" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
         |${OracleCtes.segPositions("r")},
         |cov AS (
         |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |span AS (SELECT contig, MIN(pos) AS lo, MAX(pos) AS hi FROM cov GROUP BY 1),
         |allpos AS (
         |  SELECT s.contig, g.pos
         |  FROM span s, LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS pos) g),
         |filled AS (
         |  SELECT a.contig, a.pos, COALESCE(c.coverage, 0) AS coverage
         |  FROM allpos a LEFT JOIN cov c ON a.contig = c.contig AND a.pos = c.pos),
         |cls AS (
         |  SELECT contig, pos,
         |    CASE WHEN coverage = 0 THEN 'NO_COVERAGE'
         |         WHEN coverage < 3 THEN 'LOW_COVERAGE'
         |         WHEN coverage > 6 THEN 'EXCESSIVE_COVERAGE'
         |         ELSE 'CALLABLE' END AS status
         |  FROM filled),
         |runs AS (
         |  SELECT contig, pos, status,
         |    pos - ROW_NUMBER() OVER (PARTITION BY contig, status ORDER BY pos) AS grp
         |  FROM cls)
         |SELECT contig, CAST(MIN(pos) AS INT) AS pos_start,
         |       CAST(MAX(pos) AS INT) AS pos_end, status
         |FROM runs GROUP BY contig, status, grp""".stripMargin,
    "coverage_merge" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id IN ('s1', 's2')),
         |${OracleCtes.segPositions("r")},
         |cov AS (
         |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |runs AS (
         |  SELECT contig, pos, coverage,
         |         pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp
         |  FROM cov)
         |SELECT contig, CAST(MIN(pos) AS INT) AS pos_start,
         |       CAST(MAX(pos) AS INT) AS pos_end, CAST(coverage AS INT) AS coverage
         |FROM runs GROUP BY contig, coverage, grp""".stripMargin,
    "coverage_targets" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id = 's1' AND pos_start <= 400),
         |${OracleCtes.segPositions("r")},
         |cov AS (
         |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |${OracleCtes.targets},
         |j AS (
         |  SELECT t.name, t.contig, t.pos_start, t.pos_end, c.coverage
         |  FROM targets t LEFT JOIN cov c
         |    ON c.contig = t.contig AND c.pos BETWEEN t.pos_start AND t.pos_end)
         |SELECT name, contig, pos_start, pos_end,
         |  CAST(COALESCE(SUM(coverage), 0) AS BIGINT) AS depth_sum,
         |  CAST(COALESCE(SUM(CASE WHEN coverage IS NOT NULL THEN 1 END), 0) AS BIGINT)
         |    AS covered_bases,
         |  CAST(COALESCE(SUM(coverage), 0) AS DOUBLE) / (pos_end - pos_start + 1)
         |    AS mean_depth
         |FROM j GROUP BY name, contig, pos_start, pos_end""".stripMargin,
    "coverage_hist" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
         |${OracleCtes.segPositions("r")},
         |cov AS (
         |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |runs AS (
         |  SELECT contig, pos, coverage,
         |         pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp
         |  FROM cov),
         |blocks AS (
         |  SELECT contig, MIN(pos) AS ps, MAX(pos) AS pe, coverage
         |  FROM runs GROUP BY contig, coverage, grp)
         |SELECT CAST(coverage AS INT) AS coverage,
         |       CAST(SUM(pe - ps + 1) AS BIGINT) AS n_loci,
         |       COUNT(*) AS n_blocks
         |FROM blocks GROUP BY 1""".stripMargin,
    "coverage_tvf" -> coverageOracle,
    "coverage_tvf_all" ->
      s"""WITH ${OracleCtes.reads},
         |${OracleCtes.segPositions("reads")},
         |cov AS (
         |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |runs AS (
         |  SELECT contig, pos, coverage,
         |         pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp
         |  FROM cov)
         |SELECT contig, CAST(MIN(pos) AS INT) AS pos_start,
         |       CAST(MAX(pos) AS INT) AS pos_end, CAST(coverage AS INT) AS coverage
         |FROM runs GROUP BY contig, coverage, grp""".stripMargin,
    "coverage_by_sample" ->
      s"""WITH ${OracleCtes.reads},
         |${OracleCtes.segPositions("reads", "sample_id, contig")},
         |cov AS (
         |  SELECT sample_id, contig, pos, COUNT(*) AS coverage
         |  FROM positions GROUP BY 1, 2, 3),
         |runs AS (
         |  SELECT sample_id, contig, pos, coverage,
         |         pos - ROW_NUMBER() OVER (
         |           PARTITION BY sample_id, contig, coverage ORDER BY pos) AS grp
         |  FROM cov)
         |SELECT sample_id, contig, CAST(MIN(pos) AS INT) AS pos_start,
         |       CAST(MAX(pos) AS INT) AS pos_end, CAST(coverage AS INT) AS coverage
         |FROM runs GROUP BY sample_id, contig, coverage, grp""".stripMargin,
    "coverage_window" -> windowOracle,
    "coverage_window_tvf" -> windowOracle,
    "coverage_bases_tvf" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
         |${OracleCtes.segPositions("r")}
         |SELECT contig, CAST(pos AS INT) AS pos, CAST(COUNT(*) AS INT) AS coverage
         |FROM positions GROUP BY 1, 2""".stripMargin)

  private lazy val windowOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (
       |  SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2)
       |SELECT contig, (pos - 1) // 500 AS tile,
       |       CAST(SUM(coverage) AS DOUBLE) / 500 AS mean_coverage
       |FROM cov GROUP BY 1, 2""".stripMargin
}
