package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestListeners
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import scala.util.Random

/** Coverage correctness: differential vs a naive explode+group-by
  * formulation computed by Spark itself (SURVEY §5 patterns 1/3), RLE
  * invariants, and partition-count invariance (blocks that span partitions).
  */
class CoverageSpec extends SparkSpec {

  private def randomReads(n: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val rows = Seq.fill(n) {
      val s = rnd.nextInt(2000) + 1
      (rnd.nextInt(3).toString, s, s + rnd.nextInt(60))
    }
    import graft.SharedSpark.spark.implicits._
    rows.toDF("contig", "pos_start", "pos_end")
  }

  /** Obviously-correct formulation: explode every covered position. */
  private def naiveBlocks(reads: DataFrame): Seq[Row] = {
    reads.createOrReplaceTempView("nv_reads")
    spark.sql(
      """WITH positions AS (
        |  SELECT contig, explode(sequence(pos_start, pos_end)) AS pos FROM nv_reads),
        |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
        |runs AS (
        |  SELECT contig, pos, coverage,
        |         pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp
        |  FROM cov)
        |SELECT contig, CAST(MIN(pos) AS INT) AS pos_start,
        |       CAST(MAX(pos) AS INT) AS pos_end, CAST(coverage AS INT) AS coverage
        |FROM runs GROUP BY contig, coverage, grp""".stripMargin)
      .collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1)))
  }

  private def engineBlocks(reads: DataFrame): Seq[Row] =
    CoverageOps.blocks(reads).collect().toSeq
      .sortBy(r => (r.getString(0), r.getInt(1)))

  test("blocks equal the naive explode+group-by formulation") {
    for (seed <- 1 to 3) {
      val reads = randomReads(500, seed)
      assert(engineBlocks(reads) === naiveBlocks(reads), s"seed $seed")
    }
  }

  test("result is invariant to shuffle partition count (boundary merge)") {
    val reads = randomReads(800, 99)
    val expected = engineBlocks(reads)
    // Abutting reads [1,10], [11,20], ...: every position group nets to
    // zero, so the answer is one depth-1 block across every partition.
    import graft.SharedSpark.spark.implicits._
    val tiles = (0 until 400).map(i => ("1", 10 * i + 1, 10 * i + 10))
      .toDF("contig", "pos_start", "pos_end")
    for (parts <- Seq(1, 13, 61)) graft.SharedSpark.withShufflePartitions(parts) {
      assert(engineBlocks(reads) === expected, s"partitions=$parts")
      assert(engineBlocks(tiles) === Seq(Row("1", 1, 4000, 1)), s"tiling, partitions=$parts")
    }
  }

  test("RLE invariants: maximal, non-overlapping, positive runs") {
    val blocks = engineBlocks(randomReads(600, 7))
    blocks.groupBy(_.getString(0)).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_.getInt(1))
      sorted.foreach { b =>
        assert(b.getInt(1) <= b.getInt(2))
        assert(b.getInt(3) > 0)
      }
      sorted.sliding(2).foreach {
        case Seq(x, y) =>
          assert(y.getInt(1) > x.getInt(2), "blocks overlap")
          if (y.getInt(1) == x.getInt(2) + 1)
            assert(y.getInt(3) !== x.getInt(3), "adjacent equal-coverage runs not merged")
        case _ =>
      }
    }
  }

  test("blocksBy equals per-group blocks computed separately") {
    val rnd = new Random(5)
    import graft.SharedSpark.spark.implicits._
    val reads = Seq.fill(600) {
      val s = rnd.nextInt(1500) + 1
      (s"s${rnd.nextInt(3)}", rnd.nextInt(2).toString, s, s + rnd.nextInt(50))
    }.toDF("sample_id", "contig", "pos_start", "pos_end")

    val got = CoverageOps.blocksBy(reads, Seq("sample_id")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .sorted
    val expected = Seq("s0", "s1", "s2").flatMap { sid =>
      CoverageOps.blocks(reads.filter(col("sample_id") === sid)).collect().toSeq
        .map(r => (sid, r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    }.sorted
    assert(got === expected)
  }

  test("blocksBy is invariant to shuffle partition count") {
    val rnd = new Random(17)
    import graft.SharedSpark.spark.implicits._
    val reads = Seq.fill(500) {
      val s = rnd.nextInt(1200) + 1
      (s"s${rnd.nextInt(4)}", rnd.nextInt(2).toString, s, s + rnd.nextInt(40))
    }.toDF("sample_id", "contig", "pos_start", "pos_end")
    def run(): Seq[(String, String, Int, Int, Int)] =
      CoverageOps.blocksBy(reads, Seq("sample_id")).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
        .sorted
    val expected = run()
    for (parts <- Seq("1", "7", "53")) {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try assert(run() === expected, s"partitions=$parts")
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
  }

  test("mergeCoverage(blocks(a), blocks(b)) == blocks(a union b)") {
    val a = randomReads(300, 77)
    val b = randomReads(250, 78)
    val direct = engineBlocks(a.unionAll(b))
    val merged = CoverageOps.mergeCoverage(CoverageOps.blocks(a), CoverageOps.blocks(b))
      .collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1)))
    assert(merged === direct)
  }

  test("targetCoverage equals the naive per-position formulation, zeros kept") {
    import graft.SharedSpark.spark.implicits._
    val reads = randomReads(400, 99)
    val targets = (0 until 60).map { i =>
      val s = (i * 131) % 1900 + 1
      (s"t$i", (i % 3).toString, s, s + 49)
    }.toDF("name", "contig", "pos_start", "pos_end")
    val got = CoverageOps.targetCoverage(reads, targets).collect()
      .map(r => r.getString(0) -> ((r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap

    // naive: per-position depth map on the driver
    val rs = reads.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val depth = scala.collection.mutable.HashMap.empty[(String, Int), Int]
    rs.foreach { case (c, s, e) =>
      (s to e).foreach(p => depth((c, p)) = depth.getOrElse((c, p), 0) + 1) }
    targets.collect().foreach { r =>
      val (n, c, s, e) = (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))
      val ds = (s to e).map(p => depth.getOrElse((c, p), 0))
      val (sum, covered) = (ds.map(_.toLong).sum, ds.count(_ > 0).toLong)
      assert(got(n) === ((sum, covered, sum.toDouble / (e - s + 1))), n)
    }
  }

  test("mergeCoverage fuses adjacent equal-depth runs across sets and is n-ary") {
    import graft.SharedSpark.spark.implicits._
    // a covers [1,10], b covers [11,20] at the same depth: the merged RLE
    // must be ONE run [1,20]x1. A third set stacks [5,15] on top.
    val a = Seq(("1", 1, 10)).toDF("contig", "pos_start", "pos_end")
    val b = Seq(("1", 11, 20)).toDF("contig", "pos_start", "pos_end")
    val c = Seq(("1", 5, 15)).toDF("contig", "pos_start", "pos_end")
    val two = CoverageOps.mergeCoverage(CoverageOps.blocks(a), CoverageOps.blocks(b))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(two === Set(("1", 1, 20, 1)))
    val three = CoverageOps.mergeCoverage(
        CoverageOps.blocks(a), CoverageOps.blocks(b), CoverageOps.blocks(c))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(three === Set(("1", 1, 4, 1), ("1", 5, 15, 2), ("1", 16, 20, 1)))
  }

  test("cigarCoveredSegments walks M/=/X vs N/D vs I/S/H/P correctly") {
    assert(CoverageOps.cigarCoveredSegments(100, "10M") === List((100, 109)))
    // N gap: two covered runs, gap consumes reference positions.
    assert(CoverageOps.cigarCoveredSegments(100, "5M3N4M") === List((100, 104), (108, 111)))
    // D behaves like N for coverage (consumes reference, no depth).
    assert(CoverageOps.cigarCoveredSegments(100, "5M2D5M") === List((100, 104), (107, 111)))
    // I/S/H/P consume no reference: runs stay adjacent.
    assert(CoverageOps.cigarCoveredSegments(100, "3S5M2I5M") === List((100, 104), (105, 109)))
    assert(CoverageOps.cigarCoveredSegments(50, "4=1X4=") === List((50, 53), (54, 54), (55, 58)))
    assertThrows[IllegalArgumentException](CoverageOps.cigarCoveredSegments(1, "5M2Q3M"))
  }

  test("a gapped (spliced) read yields two coverage runs") {
    import graft.SharedSpark.spark.implicits._
    val reads = Seq(("1", 100, 111, "5M3N4M")).toDF("contig", "pos_start", "pos_end", "cigar")
    val got = CoverageOps.blocks(reads).collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._2)
    assert(got === Seq(("1", 100, 104, 1), ("1", 108, 111, 1)))
  }

  test("solid cigar '<len>M' equals the no-cigar interval path") {
    val base = randomReads(400, 23)
    val withCigar = base.withColumn("cigar",
      concat(col("pos_end") - col("pos_start") + 1, lit("M")))
    assert(engineBlocks(withCigar) === engineBlocks(base))
  }

  test("windowed coverage equals per-position mean over tiles") {
    val reads = randomReads(300, 21)
    reads.createOrReplaceTempView("nv_reads")
    val expected = spark.sql(
      """WITH positions AS (
        |  SELECT contig, explode(sequence(pos_start, pos_end)) AS pos FROM nv_reads),
        |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2)
        |SELECT contig, (pos - 1) DIV 500 AS tile,
        |       CAST(SUM(coverage) AS DOUBLE) / 500 AS mean_coverage
        |FROM cov GROUP BY 1, 2""".stripMargin)
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val got = CoverageOps.windowed(reads, 500)
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    assert(got === expected)
  }

  private val cigarSchema = StructType(Seq(
    StructField("contig", StringType), StructField("pos_start", IntegerType),
    StructField("pos_end", IntegerType), StructField("cigar", StringType)))

  private def cigarFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), cigarSchema)

  /** Reads on 4 contigs with random CIGARs over M, =, X, D, N, I and S
    * (long N gaps, segments up to 200 bp that cross tile edges), one in
    * ten with an empty and one in ten with a null CIGAR, which cover the
    * solid `[pos_start, pos_end]`. Built from an RDD, so no operator can
    * take a size-estimate shortcut. */
  private def cigarReads(n: Int, seed: Long): DataFrame = {
    val rnd = new Random(seed)
    def len(op: Char): Int = op match {
      case 'M' | '=' | 'X' => rnd.nextInt(200) + 1
      case 'N' => rnd.nextInt(1500) + 1
      case _ => rnd.nextInt(20) + 1
    }
    cigarFrame(Seq.fill(n) {
      val s = rnd.nextInt(4000) + 1
      val (cigar, refLen) = rnd.nextInt(10) match {
        case 0 => (null, rnd.nextInt(300) + 1)
        case 1 => ("", rnd.nextInt(300) + 1)
        case _ =>
          val ops = Seq.fill(rnd.nextInt(5) + 1) { val op = "M=XDNIS"(rnd.nextInt(7)); (len(op), op) }
          (ops.map { case (l, op) => s"$l$op" }.mkString,
            math.max(1, ops.collect { case (l, op) if "M=XDN".contains(op) => l }.sum))
      }
      Row(rnd.nextInt(4).toString, s, s + refLen - 1, cigar)
    })
  }

  /** The model: the tiling `windowed` ran over the RLE blocks before it
    * summed covered segments — each block adds `overlap × coverage` to
    * the tiles it spans. */
  private def blocksTiling(reads: DataFrame, windowSize: Int): DataFrame =
    CoverageOps.blocks(reads)
      .select(col("contig"),
        explode(sequence(
          (col("pos_start") - 1).divide(windowSize).cast("long"),
          (col("pos_end") - 1).divide(windowSize).cast("long"))).as("tile"),
        col("pos_start"), col("pos_end"), col("coverage"))
      .select(col("contig"), col("tile"),
        (least(col("pos_end"), (col("tile") + 1) * windowSize)
          - greatest(col("pos_start"), col("tile") * windowSize + 1) + 1)
          .cast("long").multiply(col("coverage")).as("contrib"))
      .groupBy(col("contig"), col("tile"))
      .agg((sum(col("contrib")) / lit(windowSize.toDouble)).as("mean_coverage"))

  private def tiles(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))

  test("windowed equals the blocks tiling exactly, with and without CIGARs") {
    val withCigars = cigarReads(800, 11)
    val solid = randomReads(400, 12)
    for (w <- Seq(1, 7, 500, 1000); (name, reads) <- Seq("cigar" -> withCigars, "solid" -> solid)) {
      val want = tiles(blocksTiling(reads, w))
      assert(want.nonEmpty)
      assert(tiles(CoverageOps.windowed(reads, w)) === want, s"$name reads, window $w")
    }
  }

  test("windowed drops null-contig rows; null-bound and inverted reads cover nothing") {
    val good = cigarReads(200, 31)
    val junk = Seq(
      Row(null, 10, 60, "51M"), Row(null, 10, 60, null),
      Row("1", null, 60, "51M"), Row("1", null, 60, null),
      Row("1", 10, null, "51M"), Row("1", 10, null, ""),
      Row("2", 90, 40, null), Row("2", 90, 40, ""))
    val noCigar = (df: DataFrame) => df.drop("cigar")
    for (w <- Seq(7, 500); strip <- Seq(identity[DataFrame] _, noCigar)) {
      val at = s"window $w, cigar column ${strip(good).columns.contains("cigar")}"
      assert(tiles(CoverageOps.windowed(strip(good.unionAll(cigarFrame(junk))), w)) ===
        tiles(CoverageOps.windowed(strip(good), w)), at)
      assert(CoverageOps.windowed(strip(cigarFrame(junk)), w).isEmpty, at)
    }
  }

  test("windowed submits no job when defined and plans one hash exchange on (contig, tile)") {
    val reads = cigarReads(2000, 41)
    val (_, jobs) = TestListeners.jobsIn(spark, "coverage-windowed-define")(
      CoverageOps.windowed(reads, 500))
    assert(jobs === 0, "defining windowed ran Spark jobs")
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case s: ShuffleExchangeExec => Seq(s)
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
    }.flatten
    for (aqe <- Seq("true", "false")) {
      val old = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val df = CoverageOps.windowed(reads, 500)
        df.collect()
        val plan = df.queryExecution.executedPlan
        val found = shuffles(plan)
        assert(!found.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), s"AQE $aqe:\n$plan")
        assert(found.map(_.outputPartitioning).collect {
          case HashPartitioning(keys, _) => keys.collect { case a: Attribute => a.name }
        } === Seq(Seq("contig", "tile")), s"AQE $aqe:\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", old)
    }
  }

  test("callableLoci: gaps become NO_COVERAGE, adjacent same-status runs fuse") {
    import graft.SharedSpark.spark.implicits._
    // depth: [10,19]=3 CALLABLE, [20,24]=2 CALLABLE (different block, same
    // status -> must fuse), [25,39] gap -> NO_COVERAGE, [40,45]=1 LOW,
    // [46,50]=5 EXCESSIVE (adjacent to LOW, different status -> stays split)
    val reads = (
      Seq.fill(3)(("1", 10, 19)) ++ Seq.fill(2)(("1", 20, 24)) ++
      Seq(("1", 40, 45)) ++ Seq.fill(5)(("1", 46, 50)) ++
      Seq(("2", 5, 8))  // second contig: single LOW run, no gaps
    ).toDF("contig", "pos_start", "pos_end")
    val got = CoverageOps.callableLoci(reads, minDepth = 2, maxDepth = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got === Set(
      ("1", 10, 24, "CALLABLE"),
      ("1", 25, 39, "NO_COVERAGE"),
      ("1", 40, 45, "LOW_COVERAGE"),
      ("1", 46, 50, "EXCESSIVE_COVERAGE"),
      ("2", 5, 8, "LOW_COVERAGE")))
    // differential cross-check vs the per-base obvious formulation
    reads.createOrReplaceTempView("cl_reads")
    val expected = spark.sql(
      """WITH positions AS (
        |  SELECT contig, explode(sequence(pos_start, pos_end)) AS pos FROM cl_reads),
        |cov AS (SELECT contig, pos, COUNT(*) AS coverage FROM positions GROUP BY 1, 2),
        |span AS (SELECT contig, MIN(pos) AS lo, MAX(pos) AS hi FROM cov GROUP BY 1),
        |allpos AS (
        |  SELECT contig, explode(sequence(lo, hi)) AS pos FROM span),
        |filled AS (
        |  SELECT a.contig, a.pos, COALESCE(c.coverage, 0) AS coverage
        |  FROM allpos a LEFT JOIN cov c ON a.contig = c.contig AND a.pos = c.pos),
        |cls AS (
        |  SELECT contig, pos,
        |    CASE WHEN coverage = 0 THEN 'NO_COVERAGE'
        |         WHEN coverage < 2 THEN 'LOW_COVERAGE'
        |         WHEN coverage > 3 THEN 'EXCESSIVE_COVERAGE'
        |         ELSE 'CALLABLE' END AS status
        |  FROM filled),
        |runs AS (
        |  SELECT contig, pos, status,
        |    pos - ROW_NUMBER() OVER (PARTITION BY contig, status ORDER BY pos) AS grp
        |  FROM cls)
        |SELECT contig, CAST(MIN(pos) AS INT), CAST(MAX(pos) AS INT), status
        |FROM runs GROUP BY contig, status, grp""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got === expected)
  }
}
