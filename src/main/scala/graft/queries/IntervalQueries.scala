package graft.queries

import graft.{Graft, OracleCtes, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flagship interval-join queries (SURVEY §2.3 J1-J7) plus the scalar
  * interval-function surface (§2.6) and the grange TVF (§2.7). All of them
  * run through [[graft.plans.IntervalForestJoinExec]] / the injected
  * function registry; each has an exact DuckDB oracle over the same CTE
  * derivations.
  */
object IntervalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The contig-equality + overlap join condition with PLAN-EMBEDDED
    * semantics (IntervalOverlaps pins minOverlap/maxGap/method in the
    * expression tree). INVARIANT (spec-enforced by IntervalJoinSpec's
    * scrambled-conf test): every interval query builds its joins through
    * this (or an operator that pins internally), and NONE writes session
    * confs — queries() is a Map (iteration order unspecified), Verify/
    * Bench plan lazily at execution, and a session-conf write would race
    * under concurrent queries in one session (r10 VERDICT #3). The
    * `spark.graft.rangejoin.*` confs are defaults-only. */
  private def overlaps(a: DataFrame, b: DataFrame, minOverlap: Int = 1,
      maxGap: Int = 0, method: String = ""): org.apache.spark.sql.Column =
    a("contig") === b("contig") &&
      graft.functions.IntervalOverlaps.of(a("pos_start"), a("pos_end"),
        b("pos_start"), b("pos_end"), minOverlap, maxGap, method)

  val queries: Map[String, Q] = Map(
    // featureCounts shape (reference apps/FeatureCounts.scala:35-50):
    // reads (ivA) x targets (ivB) interval join with contig equality, then
    // count per target. Plans as a broadcast interval-forest join (J1).
    "interval_join_count" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b))
        .groupBy(col("b_key"))
        .agg(count(lit(1)).as("n_reads"))
    },
    // featureCounts with weights: reads AND total read length per
    // feature. Takes the count/sum pushdown (IntervalCountPushdownRule)
    // when the nullability allows the cross-side sum; correct on the
    // general path either way — the oracle pins both.
    "interval_join_mass" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b))
        .groupBy(col("b_key"))
        .agg(count(lit(1)).as("n_reads"),
          sum(a("pos_end") - a("pos_start") + 1).as("read_mass"))
    },
    // AVG through the aggregate pushdown (r10 VERDICT stretch #8): mean
    // read length per feature (cross-side AVG — prefix-sum rank
    // arithmetic) and mean feature length (same-side AVG — cnt-weighted),
    // each rewritten to an exact pushed SUM / non-null COUNT pair divided
    // once in double. No pair materialization.
    "interval_join_avg" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b))
        .groupBy(col("b_key"))
        .agg(count(lit(1)).as("n_reads"),
          avg(a("pos_end") - a("pos_start") + 1).as("avg_read_len"),
          avg(b("pos_end") - b("pos_start") + 1).as("avg_feat_len"))
    },
    // The featureCounts aggregate through the SHUFFLE regime (r10 VERDICT
    // #1): method pinned binrange, so the count/sum pushdown plans
    // IntervalBinCountJoinExec — per-(key,bin) rank indexes, partial
    // counts merged by the surviving aggregate, zero pair
    // materialization even when the build side exceeds the broadcast
    // budget. Same oracle SQL as interval_join_mass: the physical regime
    // must not change results.
    "interval_join_count_binrange" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b, method = "binrange"))
        .groupBy(col("b_key"))
        .agg(count(lit(1)).as("n_reads"),
          sum(a("pos_end") - a("pos_start") + 1).as("read_mass"))
    },
    // Raw pair set — hash-compares every matched (a_key, b_key) pair.
    "interval_join_pairs" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b))
        .select(col("a_key"), col("b_key"))
    },
    // J3 through the hard correctness gate: the identical pair set under
    // the shuffle bin-range method — the path that carries the join when
    // neither side fits a broadcast (the 100 TB shape). Same oracle SQL
    // as interval_join_pairs: the physical method must not change results.
    "interval_join_binrange" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b, method = "binrange"))
        .select(col("a_key"), col("b_key"))
    },
    // J6 maxGap: pairs within gap <= 3 of touching also join (reference
    // `IntervalTreeJoinOptimChromosomeImpl.scala:82-87`). The oracle
    // widens one side by the gap in plain SQL.
    "interval_join_maxgap" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b, maxGap = 3))
        .select(col("a_key"), col("b_key"))
    },
    // Beyond-reference join types (the reference and stock Spark both
    // leave these to nested-loop plans): outer keeps every read with its
    // annotation or null, semi/anti are the "has / lacks an overlapping
    // feature" filters — all through the same forest exec.
    "interval_join_left" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b), "left_outer")
        .select(col("a_key"), col("b_key"))
    },
    // Full outer, single-pass through the forest exec (stock Spark: BNLJ):
    // build side collected once, a probe-only bitset job finds matched
    // build rows, unmatched pad from the driver. ivA filtered to a sliver
    // so unmatched rows exist on BOTH sides.
    "interval_join_full" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir).filter(col("pos_start") < 50000)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b), "full_outer")
        .select(col("a_key"), col("b_key"))
    },
    "interval_join_semi" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b), "left_semi")
        .select(col("a_key"), col("contig"), col("pos_start"))
    },
    "interval_join_anti" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b), "left_anti")
        .select(col("a_key"), col("contig"), col("pos_start"))
    },
    // No-equality variant (J2): both sides pre-filtered to one contig, the
    // join condition is the bare interval overlap.
    "interval_join_nochr" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir).filter(col("contig") === "3")
      val b = Tables.ivB(s, dir).filter(col("contig") === "3")
      a.join(b, graft.functions.IntervalOverlaps.of(
          a("pos_start"), a("pos_end"), b("pos_start"), b("pos_end")))
        .select(col("a_key"), col("b_key"))
    },
    // minOverlap semantics (J6) expressed as a residual predicate over the
    // engine's own overlaplength function: forest join + codegen'd filter
    // (the base overlap is plan-pinned; the residual rides on top).
    "interval_join_overlap10" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir).as("a")
      val b = Tables.ivB(s, dir).as("b")
      a.join(b, overlaps(a, b) && expr(
          "overlaplength(a.pos_start, a.pos_end, b.pos_start, b.pos_end) >= 10"))
        .select(col("a_key"), col("b_key"))
    },
    // The same J6 semantics through the engine's own minOverlap knob,
    // plan-embedded (no residual, no conf): the forest emission condition
    // applies the length test inside the probe.
    "interval_join_minoverlap" -> { (s, dir) =>
      Graft.ensure(s)
      val a = Tables.ivA(s, dir)
      val b = Tables.ivB(s, dir)
      a.join(b, overlaps(a, b, minOverlap = 10))
        .select(col("a_key"), col("b_key"))
    },
    // Nearest-feature join (bedtools closest; beyond-reference — the
    // reference joins on overlap only): every read paired with ALL
    // equally-closest targets on its contig, distance 0 on overlap.
    "interval_join_nearest" -> { (s, dir) =>
      Graft.ensure(s)
      // Regime as an explicit parameter — no session-conf writes leaking
      // across query lambdas (r8 ADVICE).
      graft.operators.NearestJoinOps
        .nearestJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), "auto")
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // The both-sides-large nearest regime through the hard gate: phase-1
    // distributed endpoint sweep for d*, phase-2 residual interval join
    // for the ties (no collect anywhere). Same oracle SQL as
    // interval_join_nearest — the physical method must not change results.
    "interval_join_nearest_merge" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.NearestJoinOps
        .nearestJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), "merge")
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // SQL-only surface for the nearest join (r8 VERDICT #5): the
    // nearest_join TVF resolves both views through a lazy plan node and
    // runs the same operator — same oracle as interval_join_nearest.
    "interval_join_nearest_tvf" -> { (s, dir) =>
      Graft.ensure(s)
      Tables.ivA(s, dir).createOrReplaceTempView("iva_nj_v")
      Tables.ivB(s, dir).createOrReplaceTempView("ivb_nj_v")
      s.sql("SELECT a_key, b_key, distance FROM nearest_join('iva_nj_v', 'ivb_nj_v')")
    },
    // K-nearest (`bedtools closest -k` over distinct distances): each left
    // row against the 3 smallest distinct distances, all ties at each —
    // broadcast-only ranking probe against the catalog side.
    "interval_join_nearest_k" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.NearestJoinOps
        .nearestKJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), 3)
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // K-nearest through the distributed merge regime (r10 VERDICT #5):
    // phase-1 endpoint sweep for the k-th distinct distance, phase-2
    // residual interval join — no broadcast of the right side anywhere.
    // Same oracle SQL as interval_join_nearest_k: the regime must not
    // change results.
    "interval_join_nearest_k_merge" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.NearestJoinOps
        .nearestKJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), 3, "merge")
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // Directional/signed nearest (`bedtools closest -io -D ref`): the 2
    // nearest distinct distances per left row EXCLUDING overlaps, with
    // reference-genome-signed distance (upstream rights negative).
    "interval_join_nearest_dir" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.NearestJoinOps
        .nearestKJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), 2,
          ignoreOverlaps = true, direction = "both", signed = true)
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // The directional/signed variant through the DISTRIBUTED merge
    // regime (r14 VERDICT #6: big catalogs get `closest -io -D ref`
    // semantics too — no broadcast, no driver collect). Same oracle as
    // interval_join_nearest_dir: the regime must not change results.
    "interval_join_nearest_dir_merge" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.NearestJoinOps
        .mergeNearestKJoin(Tables.ivA(s, dir), Tables.ivB(s, dir), 2,
          ignoreOverlaps = true, direction = "both", signed = true)
        .select(col("a_key"), col("b_key"), col("distance"))
    },
    // SQL-only surface for the k-nearest join: the nearest_k_join TVF
    // resolves both views through the same lazy plan node (k > 1 forces
    // the broadcast ranking probe; GenomicStrategy stats-gates it) —
    // same oracle as interval_join_nearest_k.
    "interval_join_nearest_k_tvf" -> { (s, dir) =>
      Graft.ensure(s)
      Tables.ivA(s, dir).createOrReplaceTempView("iva_njk_v")
      Tables.ivB(s, dir).createOrReplaceTempView("ivb_njk_v")
      s.sql("SELECT a_key, b_key, distance FROM nearest_k_join('iva_njk_v', 'ivb_njk_v', 3)")
    },
    // Interval set algebra (bedtools merge/complement/subtract/intersect;
    // beyond-reference — it stops at interval joins). merge is the seeded
    // prefix-scan (no per-contig window, CoverageOps pattern); subtract
    // and intersect plan through the interval-forest engine.
    // merge/complement/subtract run on the sparser 1-in-5 subset of ivB
    // (the full set coalesces to one run per contig — a degenerate merge);
    // at 1-in-5 density the merged set keeps hundreds of runs, so the
    // boundary stitching and the subtract gap walk face real multi-run
    // rows.
    "interval_merge" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.merge(
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0))
    },
    "interval_complement" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.complement(
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0))
    },
    "interval_subtract" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.subtract(
        Tables.ivA(s, dir).distinct(),
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0), "a_key")
    },
    // bedtools-map: per ivA interval, count/sum/min/max/mean of the
    // overlapping sparse-ivB b_key values; non-overlapping intervals
    // keep a row (count 0, null aggregates) — one left-outer forest
    // join + one hash aggregate, exact decimal arithmetic.
    "interval_map" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.mapIntervals(
        Tables.ivA(s, dir).distinct(),
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0),
        "a_key", "b_key")
    },
    "interval_intersect" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.intersect(
        Tables.ivA(s, dir), Tables.ivB(s, dir), Seq("a_key"), Seq("b_key"))
    },
    // bedtools-jaccard: one-row genome-wide similarity of the ivA and
    // sparse-ivB base sets (merged first, so every base counts once).
    "interval_set_jaccard" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.setJaccard(
        Tables.ivA(s, dir),
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0))
    },
    // bedtools-cluster: every sparse-ivB interval tagged with its
    // overlap-cluster identity (the containing merged run's coordinates).
    "interval_cluster" -> { (s, dir) =>
      Graft.ensure(s)
      graft.operators.RangeSetOps.cluster(
        Tables.ivB(s, dir).filter(col("b_key") % 5 === 0), Seq("b_key"))
    },
    // UCSC-liftOver through a deterministic chain built from the merged
    // sparse ivB runs: mapped pieces shift into the "L"-prefixed dest
    // space; uncovered pieces come out as unmapped rows (liftOver's
    // unmapped file), via the subtract gap walk.
    "interval_liftover" -> { (s, dir) =>
      Graft.ensure(s)
      val chain = graft.operators.RangeSetOps.merge(
          Tables.ivB(s, dir).filter(col("b_key") % 5 === 0))
        .select(col("contig"), col("pos_start"), col("pos_end"),
          concat(lit("L"), col("contig")).as("dest_contig"),
          (col("pos_start") % 997 * 10).as("offset"))
      graft.operators.RangeSetOps.liftover(
        Tables.ivA(s, dir).distinct(), chain, "a_key")
    },
    // Strand-aware liftOver: odd-start chain blocks align to the reverse
    // strand ('-') and REFLECT coordinates (offset = block_start +
    // block_end keeps the image inside the block's own range); even-start
    // blocks shift as before. Exercises the `-` branch every real UCSC
    // chain user hits.
    "interval_liftover_strand" -> { (s, dir) =>
      Graft.ensure(s)
      val chain = graft.operators.RangeSetOps.merge(
          Tables.ivB(s, dir).filter(col("b_key") % 5 === 0))
        .select(col("contig"), col("pos_start"), col("pos_end"),
          concat(lit("L"), col("contig")).as("dest_contig"),
          when(col("pos_start") % 2 === 1, col("pos_start") + col("pos_end"))
            .otherwise(col("pos_start") % 997 * 10).as("offset"),
          when(col("pos_start") % 2 === 1, lit("-")).otherwise(lit("+")).as("strand"))
      graft.operators.RangeSetOps.liftover(
        Tables.ivA(s, dir).distinct(), chain, "a_key")
    },
    // grange TVF (§2.7): literal one-row genomic interval joined to the
    // targets table, resolved via the injected table function.
    "grange_tvf" -> { (s, dir) =>
      Graft.ensure(s)
      Tables.targets(s, dir).createOrReplaceTempView("targets_v")
      s.sql("""SELECT t.name, t.pos_start, t.pos_end
              |FROM bdg_grange('2', 100, 600) g
              |JOIN targets_v t
              |  ON t.contig = g.contig
              | AND t.pos_end >= g.pos_start
              | AND t.pos_start <= g.pos_end""".stripMargin)
    },
    // Scalar interval-function pack (§2.6) over targets; struct results
    // flattened to int columns so the oracle is plain arithmetic.
    "udf_interval_ops" -> { (s, dir) =>
      Graft.ensure(s)
      Tables.targets(s, dir).createOrReplaceTempView("targets_v")
      s.sql("""SELECT name,
              |  shift(pos_start, pos_end, 7).start  AS sh_start,
              |  shift(pos_start, pos_end, 7).`end`  AS sh_end,
              |  bdg_resize(pos_start, pos_end, 9, 'center').start AS rs_start,
              |  bdg_resize(pos_start, pos_end, 9, 'center').`end` AS rs_end,
              |  flank(pos_start, pos_end, 10, true, false).start  AS fl_start,
              |  flank(pos_start, pos_end, 10, true, false).`end`  AS fl_end,
              |  promoters(pos_start, pos_end, 100, 20).start      AS pr_start,
              |  promoters(pos_start, pos_end, 100, 20).`end`      AS pr_end,
              |  bdg_reflect(pos_start, pos_end, 1, 1000).start        AS rf_start,
              |  bdg_reflect(pos_start, pos_end, 1, 1000).`end`        AS rf_end,
              |  overlaplength(pos_start, pos_end, 400, 700)       AS ov_len,
              |  clean_contig(concat('chr', contig))               AS clean_c
              |FROM targets_v""".stripMargin)
    })

  private def withCtes(ctes: String*)(sql: String): String =
    "WITH " + ctes.mkString(",\n") + "\n" + sql

  /** Merged (bedtools-merge, maxGap=0) runs of ivB via classic SQL island
    * detection — the oracle counterpart of [[graft.operators.RangeSetOps
    * .merge]]'s seeded prefix scan. */
  private val ivbMerged: String =
    """ivbm AS (
      |  SELECT contig, CAST(MIN(pos_start) AS INT) AS pos_start,
      |         CAST(MAX(pos_end) AS INT) AS pos_end, COUNT(*) AS n_merged
      |  FROM (
      |    SELECT contig, pos_start, pos_end,
      |      SUM(CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
      |               THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY contig ORDER BY pos_start, pos_end
      |              ROWS UNBOUNDED PRECEDING) AS g
      |    FROM (
      |      SELECT contig, pos_start, pos_end,
      |        MAX(pos_end) OVER (PARTITION BY contig
      |          ORDER BY pos_start, pos_end
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM ivb WHERE b_key % 5 = 0))
      |  GROUP BY contig, g)""".stripMargin

  /** Overlaps filtered BEFORE ranking (subquery WHERE precedes the
    * window), unsigned proximity in the ORDER BY, sign recovered from
    * which flank the right sits on — upstream (b fully left) negative.
    * Shared verbatim by the broadcast and merge-regime rows. */
  private lazy val nearestDirOracle: String = withCtes(OracleCtes.ivA, OracleCtes.ivB)(
    """SELECT a_key, b_key, CAST(sd AS INT) AS distance FROM (
      |  SELECT a.a_key, b.b_key,
      |    CASE WHEN b.pos_end < a.pos_start THEN b.pos_end - a.pos_start
      |         ELSE b.pos_start - a.pos_end END AS sd,
      |    DENSE_RANK() OVER (
      |      PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end
      |      ORDER BY GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0)) AS rk
      |  FROM iva a JOIN ivb b ON a.contig = b.contig
      |  WHERE GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) > 0)
      |WHERE rk <= 2""".stripMargin)

  val oracle: Map[String, String] = Map(
    "interval_merge" -> withCtes(OracleCtes.ivB, ivbMerged)(
      "SELECT contig, pos_start, pos_end, n_merged FROM ivbm"),
    "interval_complement" -> withCtes(OracleCtes.ivB, ivbMerged)(
      """SELECT contig, CAST(prev_end + 1 AS INT) AS pos_start,
        |       CAST(pos_start - 1 AS INT) AS pos_end
        |FROM (SELECT contig, pos_start,
        |        LAG(pos_end, 1, 0) OVER (PARTITION BY contig
        |          ORDER BY pos_start) AS prev_end
        |      FROM ivbm)
        |WHERE prev_end + 1 <= pos_start - 1""".stripMargin),
    "interval_subtract" -> withCtes(OracleCtes.ivA, OracleCtes.ivB, ivbMerged)(
      """, ad AS (SELECT DISTINCT a_key, contig, pos_start, pos_end FROM iva),
        |ov AS (
        |  SELECT ad.a_key, ad.contig, ad.pos_start, ad.pos_end,
        |         m.pos_start AS bs, m.pos_end AS be
        |  FROM ad JOIN ivbm m ON ad.contig = m.contig
        |   AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end),
        |win AS (
        |  SELECT *, LAG(be) OVER w AS prev_end,
        |         (LEAD(bs) OVER w IS NULL) AS is_last
        |  FROM ov
        |  WINDOW w AS (PARTITION BY a_key, contig, pos_start, pos_end
        |               ORDER BY bs)),
        |pieces AS (
        |  SELECT a_key, contig,
        |    GREATEST(pos_start, COALESCE(prev_end + 1, pos_start)) AS fs,
        |    bs - 1 AS fe
        |  FROM win
        |  UNION ALL
        |  SELECT a_key, contig, GREATEST(pos_start, be + 1) AS fs,
        |    pos_end AS fe
        |  FROM win WHERE is_last)
        |SELECT a_key, contig, CAST(fs AS INT) AS pos_start,
        |       CAST(fe AS INT) AS pos_end
        |FROM pieces WHERE fs <= fe
        |UNION ALL
        |SELECT a_key, contig, pos_start, pos_end FROM ad
        |WHERE NOT EXISTS (SELECT 1 FROM ivbm m
        |  WHERE m.contig = ad.contig
        |    AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end)"""
        .stripMargin),
    "interval_set_jaccard" -> withCtes(OracleCtes.ivA, OracleCtes.ivB, ivbMerged)(
      """, ivam AS (
        |  SELECT contig, CAST(MIN(pos_start) AS INT) AS pos_start,
        |         CAST(MAX(pos_end) AS INT) AS pos_end
        |  FROM (
        |    SELECT contig, pos_start, pos_end,
        |      SUM(CASE WHEN prev_max IS NULL OR pos_start > prev_max + 1
        |               THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY contig ORDER BY pos_start, pos_end
        |              ROWS UNBOUNDED PRECEDING) AS g
        |    FROM (
        |      SELECT contig, pos_start, pos_end,
        |        MAX(pos_end) OVER (PARTITION BY contig
        |          ORDER BY pos_start, pos_end
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |      FROM iva))
        |  GROUP BY contig, g),
        |la AS (SELECT COALESCE(SUM(pos_end - pos_start + 1), 0) AS v FROM ivam),
        |lb AS (SELECT COALESCE(SUM(pos_end - pos_start + 1), 0) AS v FROM ivbm),
        |li AS (SELECT COALESCE(SUM(
        |         LEAST(a.pos_end, b.pos_end) - GREATEST(a.pos_start, b.pos_start) + 1
        |       ), 0) AS v
        |       FROM ivam a JOIN ivbm b ON a.contig = b.contig
        |        AND a.pos_end >= b.pos_start AND a.pos_start <= b.pos_end)
        |SELECT CAST(li.v AS BIGINT) AS intersection_bases,
        |       CAST(la.v + lb.v - li.v AS BIGINT) AS union_bases,
        |       CAST(li.v AS DOUBLE) / CAST(la.v + lb.v - li.v AS DOUBLE) AS jaccard
        |FROM la, lb, li""".stripMargin),
    "interval_cluster" -> withCtes(OracleCtes.ivB, ivbMerged)(
      """SELECT b.b_key, b.contig, b.pos_start, b.pos_end,
        |       m.pos_start AS cluster_start, m.pos_end AS cluster_end
        |FROM (SELECT * FROM ivb WHERE b_key % 5 = 0) b JOIN ivbm m
        |  ON b.contig = m.contig
        | AND b.pos_end >= m.pos_start AND b.pos_start <= m.pos_end"""
        .stripMargin),
    "interval_liftover" -> withCtes(OracleCtes.ivA, OracleCtes.ivB, ivbMerged)(
      """, chain AS (
        |  SELECT contig, pos_start, pos_end,
        |         'L' || contig AS dest_contig,
        |         (pos_start % 997) * 10 AS offset
        |  FROM ivbm),
        |ad AS (SELECT DISTINCT a_key, contig, pos_start, pos_end FROM iva),
        |mapped AS (
        |  SELECT ad.a_key, 'mapped' AS status, c.dest_contig AS contig,
        |    CAST(GREATEST(ad.pos_start, c.pos_start) + c.offset AS INT) AS pos_start,
        |    CAST(LEAST(ad.pos_end, c.pos_end) + c.offset AS INT) AS pos_end
        |  FROM ad JOIN chain c ON ad.contig = c.contig
        |   AND ad.pos_end >= c.pos_start AND ad.pos_start <= c.pos_end),
        |ov AS (
        |  SELECT ad.a_key, ad.contig, ad.pos_start, ad.pos_end,
        |         m.pos_start AS bs, m.pos_end AS be
        |  FROM ad JOIN ivbm m ON ad.contig = m.contig
        |   AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end),
        |win AS (
        |  SELECT *, LAG(be) OVER w AS prev_end,
        |         (LEAD(bs) OVER w IS NULL) AS is_last
        |  FROM ov
        |  WINDOW w AS (PARTITION BY a_key, contig, pos_start, pos_end
        |               ORDER BY bs)),
        |pieces AS (
        |  SELECT a_key, contig,
        |    GREATEST(pos_start, COALESCE(prev_end + 1, pos_start)) AS fs,
        |    bs - 1 AS fe
        |  FROM win
        |  UNION ALL
        |  SELECT a_key, contig, GREATEST(pos_start, be + 1) AS fs,
        |    pos_end AS fe
        |  FROM win WHERE is_last)
        |SELECT * FROM mapped
        |UNION ALL
        |SELECT a_key, 'unmapped' AS status, contig,
        |       CAST(fs AS INT) AS pos_start, CAST(fe AS INT) AS pos_end
        |FROM pieces WHERE fs <= fe
        |UNION ALL
        |SELECT a_key, 'unmapped' AS status, contig, pos_start, pos_end FROM ad
        |WHERE NOT EXISTS (SELECT 1 FROM ivbm m
        |  WHERE m.contig = ad.contig
        |    AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end)"""
        .stripMargin),
    "interval_map" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT ad.a_key, ad.contig, ad.pos_start, ad.pos_end,
        |  COUNT(b.contig) AS n_overlaps,
        |  CAST(SUM(CAST(b.b_key AS DECIMAL(28,10))) AS DOUBLE) AS sum_v,
        |  CAST(MIN(b.b_key) AS DOUBLE) AS min_v,
        |  CAST(MAX(b.b_key) AS DOUBLE) AS max_v,
        |  CAST(SUM(CAST(b.b_key AS DECIMAL(28,10))) AS DOUBLE) / COUNT(b.b_key)
        |    AS mean_v
        |FROM (SELECT DISTINCT a_key, contig, pos_start, pos_end FROM iva) ad
        |LEFT JOIN (SELECT * FROM ivb WHERE b_key % 5 = 0) b
        |  ON ad.contig = b.contig
        | AND ad.pos_end >= b.pos_start AND ad.pos_start <= b.pos_end
        |GROUP BY 1, 2, 3, 4""".stripMargin),
    "interval_liftover_strand" -> withCtes(OracleCtes.ivA, OracleCtes.ivB, ivbMerged)(
      """, chain AS (
        |  SELECT contig, pos_start, pos_end,
        |         'L' || contig AS dest_contig,
        |         CASE WHEN pos_start % 2 = 1 THEN pos_start + pos_end
        |              ELSE (pos_start % 997) * 10 END AS offset,
        |         CASE WHEN pos_start % 2 = 1 THEN '-' ELSE '+' END AS strand
        |  FROM ivbm),
        |ad AS (SELECT DISTINCT a_key, contig, pos_start, pos_end FROM iva),
        |mapped AS (
        |  SELECT ad.a_key, 'mapped' AS status, c.dest_contig AS contig,
        |    CAST(CASE WHEN c.strand = '-'
        |              THEN c.offset - LEAST(ad.pos_end, c.pos_end)
        |              ELSE GREATEST(ad.pos_start, c.pos_start) + c.offset
        |         END AS INT) AS pos_start,
        |    CAST(CASE WHEN c.strand = '-'
        |              THEN c.offset - GREATEST(ad.pos_start, c.pos_start)
        |              ELSE LEAST(ad.pos_end, c.pos_end) + c.offset
        |         END AS INT) AS pos_end
        |  FROM ad JOIN chain c ON ad.contig = c.contig
        |   AND ad.pos_end >= c.pos_start AND ad.pos_start <= c.pos_end),
        |ov AS (
        |  SELECT ad.a_key, ad.contig, ad.pos_start, ad.pos_end,
        |         m.pos_start AS bs, m.pos_end AS be
        |  FROM ad JOIN ivbm m ON ad.contig = m.contig
        |   AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end),
        |win AS (
        |  SELECT *, LAG(be) OVER w AS prev_end,
        |         (LEAD(bs) OVER w IS NULL) AS is_last
        |  FROM ov
        |  WINDOW w AS (PARTITION BY a_key, contig, pos_start, pos_end
        |               ORDER BY bs)),
        |pieces AS (
        |  SELECT a_key, contig,
        |    GREATEST(pos_start, COALESCE(prev_end + 1, pos_start)) AS fs,
        |    bs - 1 AS fe
        |  FROM win
        |  UNION ALL
        |  SELECT a_key, contig, GREATEST(pos_start, be + 1) AS fs,
        |    pos_end AS fe
        |  FROM win WHERE is_last)
        |SELECT * FROM mapped
        |UNION ALL
        |SELECT a_key, 'unmapped' AS status, contig,
        |       CAST(fs AS INT) AS pos_start, CAST(fe AS INT) AS pos_end
        |FROM pieces WHERE fs <= fe
        |UNION ALL
        |SELECT a_key, 'unmapped' AS status, contig, pos_start, pos_end FROM ad
        |WHERE NOT EXISTS (SELECT 1 FROM ivbm m
        |  WHERE m.contig = ad.contig
        |    AND ad.pos_end >= m.pos_start AND ad.pos_start <= m.pos_end)"""
        .stripMargin),
    "interval_intersect" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a.a_key, a.contig,
        |  CAST(GREATEST(a.pos_start, b.pos_start) AS INT) AS pos_start,
        |  CAST(LEAST(a.pos_end, b.pos_end) AS INT) AS pos_end,
        |  b.b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_count" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT b_key, COUNT(*) AS n_reads
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end
        |GROUP BY b_key""".stripMargin),
    // CAST the sum: DuckDB SUM(int) is HUGEINT -> pandas float/object,
    // which would dtype-skew against Spark's int64 (the r6 hash-red
    // class).
    "interval_join_mass" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT b_key, COUNT(*) AS n_reads,
        |  CAST(SUM(a.pos_end - a.pos_start + 1) AS BIGINT) AS read_mass
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end
        |GROUP BY b_key""".stripMargin),
    // Exact integer sums cast to double, ONE division — bit-identical to
    // both the pushed (exact long sum) and general (double accumulation,
    // exact below 2^53) Spark paths.
    "interval_join_avg" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT b_key, COUNT(*) AS n_reads,
        |  CAST(SUM(a.pos_end - a.pos_start + 1) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_read_len,
        |  CAST(SUM(b.pos_end - b.pos_start + 1) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_feat_len
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end
        |GROUP BY b_key""".stripMargin),
    "interval_join_count_binrange" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT b_key, COUNT(*) AS n_reads,
        |  CAST(SUM(a.pos_end - a.pos_start + 1) AS BIGINT) AS read_mass
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end
        |GROUP BY b_key""".stripMargin),
    "interval_join_pairs" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_binrange" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_maxgap" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start - 3
        | AND a.pos_start <= b.pos_end + 3""".stripMargin),
    "interval_join_left" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a LEFT JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_full" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM (SELECT * FROM iva WHERE pos_start < 50000) a
        |FULL OUTER JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_semi" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, contig, pos_start
        |FROM iva a WHERE EXISTS (
        |  SELECT 1 FROM ivb b
        |  WHERE a.contig = b.contig
        |    AND a.pos_end >= b.pos_start
        |    AND a.pos_start <= b.pos_end)""".stripMargin),
    "interval_join_anti" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, contig, pos_start
        |FROM iva a WHERE NOT EXISTS (
        |  SELECT 1 FROM ivb b
        |  WHERE a.contig = b.contig
        |    AND a.pos_end >= b.pos_start
        |    AND a.pos_start <= b.pos_end)""".stripMargin),
    "interval_join_nochr" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM (SELECT * FROM iva WHERE contig = '3') a
        |JOIN (SELECT * FROM ivb WHERE contig = '3') b
        |  ON a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end""".stripMargin),
    "interval_join_overlap10" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND a.pos_end >= b.pos_start
        | AND a.pos_start <= b.pos_end
        | AND LEAST(a.pos_end, b.pos_end) - GREATEST(a.pos_start, b.pos_start) + 1 >= 10""".stripMargin),
    // Same semantics as overlap10, through the engine's plan-embedded
    // minOverlap knob instead of a residual filter.
    "interval_join_minoverlap" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key
        |FROM iva a JOIN ivb b
        |  ON a.contig = b.contig
        | AND LEAST(a.pos_end, b.pos_end) - GREATEST(a.pos_start, b.pos_start) + 1 >= 10""".stripMargin),
    // Left-row identity is the full (a_key, contig, pos_start, pos_end)
    // tuple — a_key (l_orderkey) repeats across lineitem lines with
    // different suppkey/partkey-derived intervals, so the min-distance
    // window must not mix them. Duplicate identical left rows each emit
    // their tie set (multiset semantics, same as the engine).
    "interval_join_nearest" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, a.contig, a.pos_start, a.pos_end, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    MIN(GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0))
        |      OVER (PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end) AS md
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE distance = md""".stripMargin),
    "interval_join_nearest_merge" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, a.contig, a.pos_start, a.pos_end, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    MIN(GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0))
        |      OVER (PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end) AS md
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE distance = md""".stripMargin),
    "interval_join_nearest_tvf" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, a.contig, a.pos_start, a.pos_end, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    MIN(GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0))
        |      OVER (PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end) AS md
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE distance = md""".stripMargin),
    // k smallest DISTINCT distances per left row, all ties at each —
    // DENSE_RANK is exactly that semantics. Same left-row identity note
    // as interval_join_nearest.
    "interval_join_nearest_k" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    DENSE_RANK() OVER (
        |      PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end
        |      ORDER BY GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0)) AS rk
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE rk <= 3""".stripMargin),
    "interval_join_nearest_k_merge" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    DENSE_RANK() OVER (
        |      PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end
        |      ORDER BY GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0)) AS rk
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE rk <= 3""".stripMargin),
    // Overlaps filtered BEFORE ranking (subquery WHERE precedes the
    // window), unsigned proximity in the ORDER BY, sign recovered from
    // which flank the right sits on — upstream (b fully left) negative.
    "interval_join_nearest_dir" -> nearestDirOracle,
    // ONE shared definition — the merge regime must not change results,
    // and two copies of the SQL could silently diverge under a future
    // distance-convention tweak.
    "interval_join_nearest_dir_merge" -> nearestDirOracle,
    // Same DENSE_RANK oracle — the TVF runs the identical operator.
    "interval_join_nearest_k_tvf" -> withCtes(OracleCtes.ivA, OracleCtes.ivB)(
      """SELECT a_key, b_key, CAST(distance AS INT) AS distance FROM (
        |  SELECT a.a_key, b.b_key,
        |    GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0) AS distance,
        |    DENSE_RANK() OVER (
        |      PARTITION BY a.a_key, a.contig, a.pos_start, a.pos_end
        |      ORDER BY GREATEST(b.pos_start - a.pos_end, a.pos_start - b.pos_end, 0)) AS rk
        |  FROM iva a JOIN ivb b ON a.contig = b.contig)
        |WHERE rk <= 3""".stripMargin),
    "grange_tvf" -> withCtes(OracleCtes.targets)(
      """SELECT name, pos_start, pos_end FROM targets
        |WHERE contig = '2' AND pos_end >= 100 AND pos_start <= 600""".stripMargin),
    "udf_interval_ops" -> withCtes(OracleCtes.targets)(
      """SELECT name,
        |  pos_start + 7 AS sh_start,
        |  pos_end + 7   AS sh_end,
        |  (pos_start + (pos_end - pos_start) // 2)
        |    - ((pos_end - pos_start) // 2 + 5) AS rs_start,
        |  (pos_start + (pos_end - pos_start) // 2)
        |    + ((pos_end - pos_start) // 2 + 4) AS rs_end,
        |  pos_start - 10 AS fl_start,
        |  pos_start - 1  AS fl_end,
        |  pos_start - 100 AS pr_start,
        |  pos_start + 19  AS pr_end,
        |  1001 - pos_end AS rf_start,
        |  1001 - pos_start AS rf_end,
        |  LEAST(pos_end, 700) - GREATEST(pos_start, 400) + 1 AS ov_len,
        |  contig AS clean_c
        |FROM targets""".stripMargin))
}
