package graft.queries

import graft.{OracleCtes, Tables}
import graft.operators.{MockReference, MpileupOps, PileupOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pileup queries (SURVEY §2.4 A3/A4, §2.7 T1). The oracle recomputes
  * depth the slow way (unnest positions) and renders alts/quals with
  * ordered string_agg — the same canonical form the engine emits.
  */
object PileupQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // vt/bcftools-norm variant normalization against the deterministic
    // mock reference: multi-base alleles derived from `part` (including
    // degenerate identical-allele rows), right-trimmed, left-extended
    // through reference repeats, left-trimmed to parsimony. Oracle = the
    // identical rewrite as a DuckDB recursive CTE over the identical
    // coordinate-function reference.
    "variant_normalize" -> { (s, dir) =>
      val v = Tables.part(s, dir).select(
        col("p_partkey").as("variant_id"),
        (col("p_partkey") % 4).cast("string").as("contig"),
        ((col("p_partkey") * 7) % 5000 + 2).cast("int").as("pos_start"),
        expr("substr('ACGTACGT', CAST(p_partkey % 4 AS INT) + 1, " +
          "1 + CAST(p_partkey % 3 AS INT))").as("ref"),
        expr("substr('TGCATGCA', CAST(p_partkey % 5 AS INT) % 4 + 1, " +
          "1 + CAST(p_partkey % 2 AS INT))").as("alt"))
      graft.operators.VariantOps.normalize(v)
    },
    // bcftools `norm -m- && norm`: decompose 1-3-allele rows (the alt
    // derivation is the shared multiAltSql text), then left-align each
    // allele independently. The identity is (variant_id, allele_idx).
    "variant_split_normalize" -> { (s, dir) =>
      val v = Tables.part(s, dir).select(
        col("p_partkey").as("variant_id"),
        (col("p_partkey") % 4).cast("string").as("contig"),
        ((col("p_partkey") * 7) % 5000 + 2).cast("int").as("pos_start"),
        expr("substr('ACGTACGT', CAST(p_partkey % 4 AS INT) + 1, " +
          "1 + CAST(p_partkey % 3 AS INT))").as("ref"),
        expr(multiAltSql).as("alt"))
      graft.operators.VariantOps.decomposeAndNormalize(v)
    },
    "pileup_alts" -> { (s, dir) =>
      PileupOps.pileup(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"))
    },
    "pileup_tvf" -> { (s, dir) =>
      Tables.readsMd(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM pileup('reads_v', 's1', true, true)")
    },
    // A5: quality binning — qualities floored to bins of 10.
    "pileup_binned" -> { (s, dir) =>
      PileupOps.pileup(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"),
        qualsBinSize = Some(10))
    },
    // 5-arg TVF overload: binSize through SQL.
    "pileup_binned_tvf" -> { (s, dir) =>
      Tables.readsMd(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM pileup('reads_v', 's1', true, true, 10)")
    },
    // Per-flag TVF schemas (reference
    // `ResolveTableValuedFunctionsSeq.scala:176-201`): quals=false drops
    // the quals column; alts=false is depth-only — the coverage-blocks
    // schema.
    "pileup_tvf_noquals" -> { (s, dir) =>
      Tables.readsMd(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM pileup('reads_v', 's1', true, false)")
    },
    "pileup_tvf_cov" -> { (s, dir) =>
      Tables.readsMd(s, dir).createOrReplaceTempView("reads_v")
      s.sql("SELECT * FROM pileup('reads_v', 's1', false, false)")
    },
    // §2.9 samtools-format converter (reference `SamtoolsConverter`):
    // the map-schema pileup rendered as canonical mpileup text rows.
    // Oracle rebuilds the pileup/qual strings with ordered string_agg.
    "pileup_format_samtools" -> { (s, dir) =>
      MpileupOps.toMpileup(
        PileupOps.pileupMaps(Tables.readsMd(s, dir).filter(col("sample_id") === "s1")))
    },
    // §2.9 GATK converter (reference `GatkConverter`): GATK-pileup text
    // (no quals) parsed back to the map schema — rendered from the
    // engine's own pileup and round-tripped, alts re-rendered for the
    // oracle compare.
    "pileup_format_gatk" -> { (s, dir) =>
      val maps = PileupOps.pileupMaps(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"))
      MpileupOps.fromGatkPileup(MpileupOps.toMpileup(maps).drop("quals"))
        .select(col("contig"), col("pos"), col("ref"), col("coverage"),
          col("count_ref"), col("count_nonref"),
          expr("altmap_to_str(alts_to_char(alts))").as("alts"))
    },
    // §2.9 DelTransfer (reference `DelTransfer.scala:5-34`): deterministic
    // `-n<seq>` deletions appended at every pos % 13 == 0 locus (span
    // 1 + pos % 4), the raw coverage column inflated by the spans covering
    // each locus (samtools counts a deleted read's `*` in coverage);
    // MpileupOps.delTransfer must recover the engine coverage by parsing
    // the spans back and interval-joining loci against them. Both the raw
    // and the adjusted coverage are emitted so the oracle pins each side
    // independently (no error cancellation). The synthesis window is
    // fixture generation, not an operator (spans reach <= 4 loci, so the
    // previous 4 rows bound the anchors).
    "pileup_format_samtools_del" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val txt = MpileupOps.toMpileup(
        PileupOps.pileupMaps(Tables.readsMd(s, dir).filter(col("sample_id") === "s1")))
      val w = Window.partitionBy(col("contig")).orderBy(col("pos")).rowsBetween(-4, -1)
      val prev = collect_list(struct(col("pos").as("p"), col("dn"))).over(w)
      val withDel = txt
        .withColumn("dn", when(col("pos") % 13 === 0, col("pos") % 4 + 1).otherwise(0))
        .withColumn("pileup_raw", concat(col("pileup"),
          when(col("dn") > 0,
            concat(lit("-"), col("dn").cast("string"), repeat(lit("a"), col("dn"))))
            .otherwise(lit(""))))
        .withColumn("inflate",
          size(filter(prev, e => col("pos") - e.getField("p") <= e.getField("dn"))))
        .withColumn("cov_raw", (col("coverage") + col("inflate")).cast("int"))
      MpileupOps.delTransfer(
          withDel.select(col("contig"), col("pos"), col("ref"),
            col("cov_raw").as("coverage"), col("pileup_raw").as("pileup"),
            col("quals"), col("cov_raw")))
        .select(col("contig"), col("pos"), col("ref"), col("cov_raw"),
          col("coverage").as("cov_adj"), col("pileup"), col("quals"))
    },
    // Reference-schema map output (alts Map<Byte,Short>,
    // quals Map<Byte,Array<Short>>), rendered to canonical strings through
    // the F7-F14 UDF pack — the reference composition
    // (`tests/pileup/SamtoolsTestSuite.scala:50-72`). The oracle rebuilds
    // the same renderings with ordered string_agg.
    "pileup_alts_maps" -> { (s, dir) =>
      PileupOps.pileupMaps(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"))
        .select(col("contig"), col("pos"), col("ref"), col("coverage"), col("count_ref"),
          col("count_nonref"),
          expr("altmap_to_str(alts_to_char(alts))").as("alts"),
          expr("qualsmap_to_str(to_charmap(quals))").as("quals"))
    },
    // Multi-sample pileup in ONE pass (beyond reference: its pileup TVF
    // takes a single sample and would re-scan per sample) — all four
    // samples' alt/qual/depth rows from one scan, one alt exchange, one
    // blocksBy depth pass.
    "pileup_by_sample" -> { (s, dir) =>
      PileupOps.pileupBy(Tables.readsMd(s, dir), Seq("sample_id"))
    },
    // The multi-sample composition: per-sample calls from one corpus
    // pass (pileupMapsBy + the keys-aware caller). withQuals=false: the
    // caller reads only depth + alt counts, so the pileup skips the
    // quality-histogram aggregation level entirely.
    "pileup_calls_by" -> { (s, dir) =>
      PileupOps.naiveVariantCalls(
        PileupOps.pileupMapsBy(Tables.readsMd(s, dir), Seq("sample_id"),
          withQuals = false),
        minDepth = 3, minAltPct = 8, keys = Seq("sample_id"))
    },
    // Naive threshold variant caller on top of the map-typed pileup:
    // alt fraction >= 8% at depth >= 3, exact integer gate.
    "pileup_calls" -> { (s, dir) =>
      PileupOps.naiveVariantCalls(
        PileupOps.pileupMaps(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"),
          withQuals = false),
        minDepth = 3, minAltPct = 8)
    },
    // A4 through a REAL indexed FASTA (r10 VERDICT residual gap #2): the
    // ref base comes from a samtools-faidx random-access lookup over a
    // generated genome file instead of the coordinate-function mock. The
    // fixture's bases are periodic, so the DuckDB oracle mirrors the
    // SAME genome arithmetically — the faidx byte math, line-terminator
    // stripping, and executor-side caching are what the row compare
    // actually pins.
    "pileup_fasta_ref" -> { (s, dir) =>
      val fasta = fastaFixture(s, dir)
      PileupOps.pileup(Tables.readsMd(s, dir).filter(col("sample_id") === "s1"),
        withQuals = false, ref = new graft.operators.FastaReference(fasta))
    })

  /** Deterministic indexed FASTA fixture: per reads contig, bases
    * `'ACGTTGCA'[(pos - 1 + ascii(contig)) % 8]` (periodic, so oracles
    * mirror it arithmetically) sized past the contig's max read end,
    * 60 bases/line, with the matching samtools `.fai` (name, length,
    * first-base offset, bases/line, bytes/line). Written once per
    * (fixture, dir) per JVM — query setup, not the measured operator. */
  private val fastaWritten = scala.collection.concurrent.TrieMap.empty[String, String]
  private def fastaFixture(s: SparkSession, dir: String): String =
    fastaWritten.getOrElseUpdate(dir, {
      val spans = Tables.readsMd(s, dir)
        .groupBy(col("contig")).agg(max(col("pos_end")).as("m"))
        .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
      val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_ref_${java.lang.Integer.toHexString(dir.hashCode)}.fasta").toString
      val pattern = "ACGTTGCA"
      val lineBases = 60
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
      val fai = new StringBuilder
      var offset = 0L
      for ((contig, maxEnd) <- spans) {
        val header = s">$contig\n".getBytes("UTF-8")
        out.write(header); offset += header.length
        val len = maxEnd + 10
        fai.append(s"$contig\t$len\t$offset\t$lineBases\t${lineBases + 1}\n")
        val sb = new StringBuilder
        var p = 1
        while (p <= len) {
          sb.append(pattern.charAt((p - 1 + contig.charAt(0).toInt) % 8))
          if (p % lineBases == 0 || p == len) sb.append('\n')
          p += 1
        }
        val bytes = sb.toString.getBytes("UTF-8")
        out.write(bytes); offset += bytes.length
      }
      out.close()
      java.nio.file.Files.write(java.nio.file.Paths.get(path + ".fai"),
        fai.toString.getBytes("UTF-8"))
      // The path may have been overwritten by an earlier JVM run.
      graft.operators.FastaReference.clearCaches()
      path
    })

  private val pileupOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual
       |         FROM r WHERE has_alt),
       |perbase AS (SELECT contig, pos, base, COUNT(*) AS cnt,
       |            string_agg(CAST(base_qual AS VARCHAR), '+' ORDER BY base_qual) AS quals_b
       |            FROM alt1 GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts,
       |           string_agg(base || ':' || quals_b, ' ' ORDER BY base) AS quals
       |           FROM perbase GROUP BY 1, 2)
       |SELECT p.contig, p.pos,
       |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |       CAST(c.coverage AS INT) AS coverage,
       |       CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref,
       |       p.count_nonref, p.alts, p.quals
       |FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos""".stripMargin

  private val pileupBinnedOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual // 10 AS q
       |         FROM r WHERE has_alt),
       |perbase AS (SELECT contig, pos, base, COUNT(*) AS cnt,
       |            string_agg(CAST(q AS VARCHAR), '+' ORDER BY q) AS quals_b
       |            FROM alt1 GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts,
       |           string_agg(base || ':' || quals_b, ' ' ORDER BY base) AS quals
       |           FROM perbase GROUP BY 1, 2)
       |SELECT p.contig, p.pos,
       |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |       CAST(c.coverage AS INT) AS coverage,
       |       CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref,
       |       p.count_nonref, p.alts, p.quals
       |FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos""".stripMargin

  // Map-form oracle: quality histograms render as `base -> (char -> n,
  // ...)` with char = chr(qual+33) — exactly what `qualsmap_to_str ∘
  // to_charmap` produces from the engine's dense histograms (zero slots
  // skipped on both sides; single-ASCII-char ordering is byte order in
  // both engines).
  private val pileupMapsOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual AS q
       |         FROM r WHERE has_alt),
       |perbq AS (SELECT contig, pos, base, q, COUNT(*) AS qcnt
       |          FROM alt1 GROUP BY 1, 2, 3, 4),
       |perbase AS (SELECT contig, pos, base, SUM(qcnt) AS cnt,
       |            string_agg(chr(q + 33) || ' -> ' || qcnt, ', ' ORDER BY chr(q + 33)) AS qstr
       |            FROM perbq GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts,
       |           string_agg(base || ' -> (' || qstr || ')', '; ' ORDER BY base) AS quals
       |           FROM perbase GROUP BY 1, 2)
       |SELECT p.contig, p.pos,
       |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |       CAST(c.coverage AS INT) AS coverage,
       |       CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref,
       |       p.count_nonref, p.alts, p.quals
       |FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos""".stripMargin

  // mpileup text rendering: '.' per ref match then alt chars ascending;
  // quals 'I' (Q40 placeholder) per ref match then per-base chr(q+33)
  // ascending — exactly MpileupOps.toMpileup's canonical order.
  private val pileupSamtoolsOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual AS q
       |         FROM r WHERE has_alt),
       |perbq AS (SELECT contig, pos, base, q, COUNT(*) AS qcnt
       |          FROM alt1 GROUP BY 1, 2, 3, 4),
       |perbase AS (SELECT contig, pos, base, SUM(qcnt) AS cnt,
       |            string_agg(repeat(chr(q + 33), CAST(qcnt AS INT)), '' ORDER BY q) AS qstr
       |            FROM perbq GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(repeat(base, CAST(cnt AS INT)), '' ORDER BY base) AS altstr,
       |           string_agg(qstr, '' ORDER BY base) AS qualstr
       |           FROM perbase GROUP BY 1, 2)
       |SELECT p.contig, p.pos,
       |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |       CAST(c.coverage AS INT) AS coverage,
       |       repeat('.', CAST(c.coverage - p.count_nonref AS INT)) || p.altstr AS pileup,
       |       repeat('I', CAST(c.coverage - p.count_nonref AS INT)) || p.qualstr AS quals
       |FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos""".stripMargin

  // DelTransfer: the base mpileup rows, plus the deterministic deletion
  // injection and its coverage inflation recomputed INDEPENDENTLY (the
  // Spark side inflates via a window and deflates via the span parse +
  // interval join; the oracle derives both columns analytically, so a
  // broken parse/join cannot cancel against a broken synthesis).
  private val pileupSamtoolsDelOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual AS q
       |         FROM r WHERE has_alt),
       |perbq AS (SELECT contig, pos, base, q, COUNT(*) AS qcnt
       |          FROM alt1 GROUP BY 1, 2, 3, 4),
       |perbase AS (SELECT contig, pos, base, SUM(qcnt) AS cnt,
       |            string_agg(repeat(chr(q + 33), CAST(qcnt AS INT)), '' ORDER BY q) AS qstr
       |            FROM perbq GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(repeat(base, CAST(cnt AS INT)), '' ORDER BY base) AS altstr,
       |           string_agg(qstr, '' ORDER BY base) AS qualstr
       |           FROM perbase GROUP BY 1, 2),
       |base AS (
       |  SELECT p.contig, p.pos,
       |         ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |         CAST(c.coverage AS INT) AS coverage,
       |         repeat('.', CAST(c.coverage - p.count_nonref AS INT)) || p.altstr AS pileup,
       |         repeat('I', CAST(c.coverage - p.count_nonref AS INT)) || p.qualstr AS quals
       |  FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos),
       |d AS (SELECT *, CASE WHEN pos % 13 = 0 THEN pos % 4 + 1 ELSE 0 END AS dn FROM base),
       |infl AS (SELECT a.contig, a.pos, count(b.pos) AS inflate
       |         FROM d a LEFT JOIN d b ON b.contig = a.contig
       |           AND b.pos >= a.pos - 4 AND b.pos <= a.pos - 1
       |           AND b.dn >= a.pos - b.pos
       |         GROUP BY 1, 2)
       |SELECT d.contig, d.pos, d.ref,
       |  CAST(d.coverage + i.inflate AS INT) AS cov_raw,
       |  CAST(d.coverage AS INT) AS cov_adj,
       |  d.pileup || CASE WHEN d.dn > 0
       |    THEN '-' || d.dn || repeat('a', d.dn) ELSE '' END AS pileup,
       |  d.quals
       |FROM d JOIN infl i ON d.contig = i.contig AND d.pos = i.pos""".stripMargin

  // GATK text round-trip: coverage = pileup string length = depth, alts
  // re-counted from the rendered characters — identical to the map-form
  // aggregation minus the quality level.
  private val pileupGatkOracle: String =
    s"""WITH ${OracleCtes.reads},
       |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
       |${OracleCtes.segPositions("r")},
       |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
       |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base
       |         FROM r WHERE has_alt),
       |perbase AS (SELECT contig, pos, base, COUNT(*) AS cnt
       |            FROM alt1 GROUP BY 1, 2, 3),
       |perpos AS (SELECT contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
       |           string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts
       |           FROM perbase GROUP BY 1, 2)
       |SELECT p.contig, p.pos,
       |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
       |       CAST(c.coverage AS INT) AS coverage,
       |       CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref,
       |       p.count_nonref, p.alts
       |FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos""".stripMargin

  // quals=false: identical pipeline, final select without the quals column.
  private val pileupNoQualsOracle: String = {
    val full = pileupOracle
    full.replace("p.count_nonref, p.alts, p.quals\n", "p.count_nonref, p.alts\n")
  }

  /** The noquals oracle with the ref base swapped from the mock's
    * coordinate function to the FASTA fixture's periodic genome — the
    * SAME bases [[fastaFixture]] writes, derived arithmetically. */
  private val pileupFastaOracle: String =
    pileupNoQualsOracle.replace(
      MockReference.refBaseSql("p.contig", "p.pos"),
      "substr('ACGTTGCA', ((p.pos - 1 + ascii(p.contig)) % 8) + 1, 1)")

  /** The shared normalization rewrite as a recursive CTE body over a
    * `v0(variant_id, contig, pos, ref, alt)` relation: one step per
    * recursion; `rule` picks right-trim ('rt'), left-extend ('ex'), the
    * phase-1→2 transition ('tr'), left-trim ('lt'), or 'stop'. The
    * final row per variant is the max-step one. */
  private val normRecursive: String =
    """n AS (
      |  SELECT variant_id, contig, pos, ref, alt, 1 AS phase, 0 AS step FROM v0
      |  UNION ALL
      |  SELECT variant_id, contig,
      |    CASE y.rule WHEN 'ex' THEN pos - 1 WHEN 'lt' THEN pos + 1
      |                ELSE pos END,
      |    CASE y.rule WHEN 'rt' THEN substr(ref, 1, length(ref) - 1)
      |                WHEN 'ex' THEN x.b || substr(ref, 1, length(ref) - 1)
      |                WHEN 'lt' THEN substr(ref, 2)
      |                ELSE ref END,
      |    CASE y.rule WHEN 'rt' THEN substr(alt, 1, length(alt) - 1)
      |                WHEN 'ex' THEN x.b || substr(alt, 1, length(alt) - 1)
      |                WHEN 'lt' THEN substr(alt, 2)
      |                ELSE alt END,
      |    CASE WHEN y.rule IN ('tr', 'lt') THEN 2 ELSE phase END,
      |    step + 1
      |  FROM n,
      |  LATERAL (SELECT
      |      (ref <> alt AND substr(ref, length(ref), 1) = substr(alt, length(alt), 1)) AS r_eq,
      |      (length(ref) > 1 AND length(alt) > 1) AS both_gt1,
      |      substr('ACGT', (ascii(contig) + pos - 1) % 4 + 1, 1) AS b) x,
      |  LATERAL (SELECT CASE
      |      WHEN phase = 1 AND x.r_eq AND x.both_gt1 THEN 'rt'
      |      WHEN phase = 1 AND x.r_eq AND pos > 1 THEN 'ex'
      |      WHEN phase = 1 THEN 'tr'
      |      WHEN length(ref) > 1 AND length(alt) > 1
      |           AND substr(ref, 1, 1) = substr(alt, 1, 1) THEN 'lt'
      |      ELSE 'stop' END AS rule) y
      |  WHERE y.rule <> 'stop')""".stripMargin

  /** The multi-allelic `alt` derivation shared by the Spark query and
    * the oracle: 1-3 comma-separated alleles, each varying with the key.
    * NOTE: this text is re-embedded into an outer stripMargin'd string,
    * so no continuation line may start with `||` (the outer stripMargin
    * would eat one pipe) — concatenation operators sit at line ends. */
  private[queries] val multiAltSql: String =
    """CASE CAST(p_partkey % 3 AS INT)
      | WHEN 0 THEN substr('TGCATGCA', CAST(p_partkey % 5 AS INT) % 4 + 1, 1 + CAST(p_partkey % 2 AS INT))
      | WHEN 1 THEN substr('TGCATGCA', CAST(p_partkey % 5 AS INT) % 4 + 1, 1 + CAST(p_partkey % 2 AS INT)) || ',' ||
      |   substr('GATCGATC', CAST(p_partkey % 6 AS INT) % 4 + 1, 1 + CAST(p_partkey % 2 AS INT))
      | ELSE substr('TGCATGCA', CAST(p_partkey % 5 AS INT) % 4 + 1, 1 + CAST(p_partkey % 2 AS INT)) || ',' ||
      |   substr('GATCGATC', CAST(p_partkey % 6 AS INT) % 4 + 1, 1 + CAST(p_partkey % 2 AS INT)) || ',' ||
      |   substr('CTAGCTAG', CAST(p_partkey % 7 AS INT) % 4 + 1, 1)
      |END""".stripMargin

  val oracle: Map[String, String] = Map(
    "variant_normalize" ->
      s"""WITH RECURSIVE v0 AS (
        |  SELECT p_partkey AS variant_id,
        |         CAST(p_partkey % 4 AS VARCHAR) AS contig,
        |         CAST((p_partkey * 7) % 5000 + 2 AS INT) AS pos,
        |         substr('ACGTACGT', CAST(p_partkey % 4 AS INT) + 1,
        |                1 + CAST(p_partkey % 3 AS INT)) AS ref,
        |         substr('TGCATGCA', CAST(p_partkey % 5 AS INT) % 4 + 1,
        |                1 + CAST(p_partkey % 2 AS INT)) AS alt
        |  FROM part),
        |$normRecursive
        |SELECT variant_id, contig, CAST(pos AS INT) AS pos_start,
        |       CAST(pos + length(ref) - 1 AS INT) AS pos_end, ref, alt
        |FROM n
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY variant_id ORDER BY step DESC) = 1""".stripMargin,
    "variant_split_normalize" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT p_partkey AS orig_id,
        |         CAST(p_partkey % 4 AS VARCHAR) AS contig,
        |         CAST((p_partkey * 7) % 5000 + 2 AS INT) AS pos,
        |         substr('ACGTACGT', CAST(p_partkey % 4 AS INT) + 1,
        |                1 + CAST(p_partkey % 3 AS INT)) AS ref,
        |         $multiAltSql AS altstr
        |  FROM part),
        |v0 AS (
        |  SELECT orig_id * 1000 + idx AS variant_id, contig, pos, ref, alt
        |  FROM (SELECT orig_id, contig, pos, ref,
        |          unnest(string_split(altstr, ',')) AS alt,
        |          generate_subscripts(string_split(altstr, ','), 1) AS idx
        |        FROM base)),
        |$normRecursive
        |SELECT CAST(variant_id // 1000 AS BIGINT) AS variant_id,
        |       CAST(variant_id % 1000 AS INT) AS allele_idx,
        |       contig, CAST(pos AS INT) AS pos_start,
        |       CAST(pos + length(ref) - 1 AS INT) AS pos_end, ref, alt
        |FROM n
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY variant_id ORDER BY step DESC) = 1""".stripMargin,
    "pileup_alts" -> pileupOracle,
    "pileup_tvf" -> pileupOracle,
    "pileup_tvf_noquals" -> pileupNoQualsOracle,
    "pileup_fasta_ref" -> pileupFastaOracle,
    "pileup_tvf_cov" -> CoverageQueries.coverageOracle,
    "pileup_binned" -> pileupBinnedOracle,
    "pileup_binned_tvf" -> pileupBinnedOracle,
    "pileup_alts_maps" -> pileupMapsOracle,
    "pileup_by_sample" ->
      s"""WITH ${OracleCtes.reads},
         |${OracleCtes.segPositions("reads", "sample_id, contig")},
         |cov AS (SELECT sample_id, contig, pos, COUNT(*) AS coverage
         |        FROM positions GROUP BY 1, 2, 3),
         |alt1 AS (SELECT sample_id, contig, alt_pos AS pos, alt_base AS base, base_qual
         |         FROM reads WHERE has_alt),
         |perbase AS (SELECT sample_id, contig, pos, base, COUNT(*) AS cnt,
         |            string_agg(CAST(base_qual AS VARCHAR), '+' ORDER BY base_qual) AS quals_b
         |            FROM alt1 GROUP BY 1, 2, 3, 4),
         |perpos AS (SELECT sample_id, contig, pos, CAST(SUM(cnt) AS BIGINT) AS count_nonref,
         |           string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts,
         |           string_agg(base || ':' || quals_b, ' ' ORDER BY base) AS quals
         |           FROM perbase GROUP BY 1, 2, 3)
         |SELECT p.sample_id, p.contig, p.pos,
         |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
         |       CAST(c.coverage AS INT) AS coverage,
         |       CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref,
         |       p.count_nonref, p.alts, p.quals
         |FROM perpos p JOIN cov c
         |  ON p.sample_id = c.sample_id AND p.contig = c.contig AND p.pos = c.pos"""
        .stripMargin,
    "pileup_calls_by" ->
      s"""WITH ${OracleCtes.reads},
         |${OracleCtes.segPositions("reads", "sample_id, contig")},
         |cov AS (SELECT sample_id, contig, pos, COUNT(*) AS coverage
         |        FROM positions GROUP BY 1, 2, 3),
         |alt1 AS (SELECT sample_id, contig, alt_pos AS pos, alt_base AS base
         |         FROM reads WHERE has_alt),
         |perbase AS (SELECT sample_id, contig, pos, base, COUNT(*) AS cnt
         |            FROM alt1 GROUP BY 1, 2, 3, 4)
         |SELECT p.sample_id, p.contig, p.pos,
         |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
         |       p.base AS alt,
         |       CAST(c.coverage AS INT) AS depth,
         |       CAST(p.cnt AS BIGINT) AS alt_count,
         |       CAST(p.cnt AS DOUBLE) / CAST(c.coverage AS DOUBLE) AS alt_frac
         |FROM perbase p JOIN cov c
         |  ON p.sample_id = c.sample_id AND p.contig = c.contig AND p.pos = c.pos
         |WHERE c.coverage >= 3 AND p.cnt * 100 >= c.coverage * 8""".stripMargin,
    "pileup_calls" ->
      s"""WITH ${OracleCtes.reads},
         |r AS (SELECT * FROM reads WHERE sample_id = 's1'),
         |${OracleCtes.segPositions("r")},
         |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
         |alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base
         |         FROM r WHERE has_alt),
         |perbase AS (SELECT contig, pos, base, COUNT(*) AS cnt
         |            FROM alt1 GROUP BY 1, 2, 3)
         |SELECT p.contig, p.pos,
         |       ${MockReference.refBaseSql("p.contig", "p.pos")} AS ref,
         |       p.base AS alt,
         |       CAST(c.coverage AS INT) AS depth,
         |       CAST(p.cnt AS BIGINT) AS alt_count,
         |       CAST(p.cnt AS DOUBLE) / CAST(c.coverage AS DOUBLE) AS alt_frac
         |FROM perbase p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos
         |WHERE c.coverage >= 3 AND p.cnt * 100 >= c.coverage * 8""".stripMargin,
    "pileup_format_samtools" -> pileupSamtoolsOracle,
    "pileup_format_samtools_del" -> pileupSamtoolsDelOracle,
    "pileup_format_gatk" -> pileupGatkOracle)
}
