package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.ClassTag

/** Count-only aggregate pushdown into the interval join
  * ([[IntervalCountPushdownRule]] / [[IntervalCountJoinExec]]): the
  * canonical `GROUP BY key, COUNT(*)` annotation-count never materializes
  * pair rows — counts come from rank differences over the broadcast
  * index. Equality against the general join+aggregate path is the
  * correctness pin; the guards keep every non-count shape on the general
  * path. */
class IntervalCountJoinSpec extends AnyFunSuite {

  private def spark = graft.SharedSpark.spark

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def hasCountExec(df: DataFrame): Boolean = {
    def walk(p: SparkPlan): Boolean = p match {
      case _: IntervalCountJoinExec => true
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => other.children.exists(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The first `T` exec of a plan, looking inside adaptive query stages. */
  private def execOf[T <: SparkPlan: ClassTag](p: SparkPlan): Option[T] = p match {
    case e: T => Some(e)
    case ad: AdaptiveSparkPlanExec => execOf[T](ad.executedPlan)
    case q: QueryStageExec => execOf[T](q.plan)
    case other => other.children.flatMap(execOf[T]).headOption
  }

  /** The bin-range exec of a plan, looking inside adaptive query stages. */
  private def binExec(p: SparkPlan): Option[IntervalBinCountJoinExec] =
    execOf[IntervalBinCountJoinExec](p)

  private def hasBinCountExec(df: DataFrame): Boolean =
    binExec(df.queryExecution.executedPlan).isDefined

  private def ivs(n: Int, seed: Int, key: String): DataFrame = {
    import graft.SharedSpark.spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val s = rnd.nextInt(1000) + 1
      (i.toLong, (rnd.nextInt(3) + 1).toString, s, s + rnd.nextInt(120))
    }.toDF(key, "contig", "pos_start", "pos_end")
  }

  /** (key, contig, start, end, measure), every field but the key nullable. */
  private type Iv = (Long, Option[String], Option[Int], Option[Int], Option[Long])

  private def joined(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end"))

  test("count pushdown fires for both grouping sides and matches the general path") {
    graft.Graft.ensure(spark)
    val a = ivs(400, 11, "a_key")
    val b = ivs(60, 12, "b_key")
    for (key <- Seq("b_key", "a_key")) {
      val q = joined(a, b).groupBy(col(key)).agg(count(lit(1)).as("n"))
      assert(hasCountExec(q), s"pushdown did not fire grouping by $key")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
        val g = joined(a, b).groupBy(col(key)).agg(count(lit(1)).as("n"))
        assert(!hasCountExec(g), "conf off must keep the general path")
        g.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(got === want, s"pushdown result diverged grouping by $key")
      assert(got.nonEmpty)
    }
  }

  test("guards: non-count aggregates, mixed grouping, conf'd overlap stay general") {
    graft.Graft.ensure(spark)
    val a = ivs(100, 13, "a_key")
    val b = ivs(30, 14, "b_key")
    // A FILTER / DISTINCT aggregate modifier blocks the rewrite.
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
      .agg(countDistinct(a("pos_start")).as("n"))))
    // count(nullable expr) pushes down null-AWARE (r10 stretch #8): the
    // 0/1 non-null weight rides the cross-sum rank machinery, so the
    // result still counts non-nulls, not pairs.
    def qc() = joined(a, b).groupBy(col("b_key"))
      .agg(count(when(a("pos_start") > 500, a("a_key"))).as("n"))
    assert(hasCountExec(qc()))
    val gotC = qc().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wantC = withConf("spark.graft.rangejoin.countPushdown", "false") {
      assert(!hasCountExec(qc()))
      qc().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(gotC === wantC && gotC.nonEmpty)
    // A count over an expression straddling BOTH sides cannot ride either
    // side's machinery — stays general.
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
      .agg(count(when(a("pos_start") > b("pos_start"), 1)).as("n"))))
    // AVG over a non-integral (fp) expression stays general too.
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
      .agg(avg(a("pos_start").cast("double")).as("m"))))
    // Grouping attributes from both sides.
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"), col("a_key"))
      .agg(count(lit(1)).as("n"))))
    // DISTINCT (grouping-only) pushes down too: the node's emitted rows
    // are exactly the keys with at least one pair.
    val d = joined(a, b).select(col("b_key")).distinct()
    assert(hasCountExec(d))
    val gotD = d.collect().map(_.getLong(0)).sorted.toSeq
    val wantD = withConf("spark.graft.rangejoin.countPushdown", "false") {
      joined(a, b).select(col("b_key")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(gotD === wantD && gotD.nonEmpty)
    // Conf-modified overlap semantics take the general path.
    withConf("spark.graft.rangejoin.minOverlap", "5") {
      assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
        .agg(count(lit(1)).as("n"))))
    }
    withConf("spark.graft.rangejoin.maxGap", "10") {
      assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
        .agg(count(lit(1)).as("n"))))
    }
  }

  test("integral SUM over the counted side pushes down as e * pair_count") {
    graft.Graft.ensure(spark)
    val a = ivs(300, 21, "a_key")
    val b = ivs(50, 22, "b_key")
    // Group by the build side, sum a build-side expression (feature
    // length per feature key, weighted by its pair multiplicity).
    def q() = joined(a, b).groupBy(col("b_key")).agg(
      count(lit(1)).as("n"),
      sum(b("pos_end") - b("pos_start")).as("len_mass"))
    assert(hasCountExec(q()))
    val got = q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
      q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    }
    assert(got === want && got.nonEmpty)
    // Non-integral sums stay general (fp multiply rounds differently
    // from repeated addition).
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
      .agg(sum(b("pos_start").cast("double")).as("s"))))
  }

  test("cross-side SUM pushes down via weighted rank arithmetic, both directions") {
    graft.Graft.ensure(spark)
    val a = ivs(300, 23, "a_key")
    val b = ivs(50, 24, "b_key")
    // Group by the BUILD side, sum a STREAM-side expression: total read
    // length per feature (featureCounts with weights) — weighted
    // histograms. Also a second distinct sum and a duplicate of the
    // first (must share one partial).
    def q1() = joined(a, b).groupBy(col("b_key")).agg(
      count(lit(1)).as("n"),
      sum(a("pos_end") - a("pos_start") + 1).as("read_mass"),
      sum(a("pos_start")).as("start_mass"),
      sum(a("pos_end") - a("pos_start") + 1).as("read_mass2"))
    // Group by the STREAM side, sum a BUILD-side expression — prefix-sum
    // rank differences.
    def q2() = joined(a, b).groupBy(col("a_key")).agg(
      sum(b("pos_end") - b("pos_start")).as("feat_mass"))
    for ((qf, nCols) <- Seq((() => q1(), 5), (() => q2(), 2))) {
      assert(hasCountExec(qf()), "cross-side sum did not push down")
      def rows(df: DataFrame) = df.collect()
        .map(r => (0 until nCols).map(i => r.getLong(i)).toList).sortBy(_.toString).toSeq
      val got = rows(qf())
      val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
        assert(!hasCountExec(qf()))
        rows(qf())
      }
      assert(got === want && got.nonEmpty)
    }
  }

  test("same-side MIN/MAX pass through the pushdown unchanged") {
    graft.Graft.ensure(spark)
    val a = ivs(300, 25, "a_key")
    val b = ivs(50, 26, "b_key")
    // min/max are multiplicity-blind, so the counted side's emitted rows
    // answer them exactly; the OTHER side's min/max can't (not
    // rank-decomposable) and must stay general.
    def q() = joined(a, b).groupBy(col("b_key")).agg(
      count(lit(1)).as("n"),
      min(b("pos_start")).as("lo"), max(b("pos_end")).as("hi"))
    assert(hasCountExec(q()))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).sorted.toSeq
    val got = rows(q())
    val want = withConf("spark.graft.rangejoin.countPushdown", "false") { rows(q()) }
    assert(got === want && got.nonEmpty)
    assert(!hasCountExec(joined(a, b).groupBy(col("b_key"))
      .agg(min(a("pos_start")).as("lo"))))
  }

  test("nullable cross-side SUM keeps all-null -> NULL semantics") {
    graft.Graft.ensure(spark)
    import graft.SharedSpark.spark.implicits._
    // b1's only pairs have a null measure (all-null group -> SUM NULL);
    // b2 has one null + one 7 (-> 7); b3 has no pairs (absent).
    val a = Seq((1L, "1", 10, 20, null.asInstanceOf[java.lang.Long]),
      (2L, "1", 30, 40, java.lang.Long.valueOf(7L)),
      (3L, "1", 35, 45, null.asInstanceOf[java.lang.Long]))
      .toDF("a_key", "contig", "pos_start", "pos_end", "measure")
    val b = Seq((1L, "1", 5, 12), (2L, "1", 32, 44), (3L, "1", 500, 600))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    def q() = joined(a, b).groupBy(col("b_key"))
      .agg(sum(a("measure")).as("m"), count(lit(1)).as("n"))
    assert(hasCountExec(q()))
    def rows(df: DataFrame) = df.collect().map { r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))
    }.sortBy(_._1).toSeq
    val got = rows(q())
    assert(got === Seq((1L, None, 1L), (2L, Some(7L), 2L)), s"got $got")
    val want = withConf("spark.graft.rangejoin.countPushdown", "false") { rows(q()) }
    assert(got === want)
  }

  test("global count (no grouping) pushes down and matches") {
    graft.Graft.ensure(spark)
    val a = ivs(300, 15, "a_key")
    val b = ivs(40, 16, "b_key")
    val q = joined(a, b).agg(count(lit(1)).as("n"))
    assert(hasCountExec(q))
    val got = q.collect()(0).getLong(0)
    val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
      joined(a, b).agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    }
    assert(got === want && got > 0L)
  }

  test("bin-range count pushdown: full aggregate surface matches the general shuffle path") {
    graft.Graft.ensure(spark)
    import graft.functions.IntervalOverlaps
    val a = ivs(400, 41, "a_key")
    val b = ivs(60, 42, "b_key")
    // Pin the shuffle regime in the plan (method = binrange): the count
    // rule must now rewrite to IntervalBinCountJoinExec instead of
    // falling back to pair materialization (r10 VERDICT #1).
    def joinedBin() = a.join(b, a("contig") === b("contig") && IntervalOverlaps.of(
      a("pos_start"), a("pos_end"), b("pos_start"), b("pos_end"), method = "binrange"))
    // Both grouping directions, with pair count, same-side sum,
    // cross-side sum, and min/max.
    def q1() = joinedBin().groupBy(col("b_key")).agg(
      count(lit(1)).as("n"), sum(b("pos_end") - b("pos_start")).as("sm"),
      sum(a("pos_end") - a("pos_start") + 1).as("xm"),
      min(b("pos_start")).as("lo"), max(b("pos_end")).as("hi"))
    def q2() = joinedBin().groupBy(col("a_key")).agg(
      count(lit(1)).as("n"), sum(b("pos_start")).as("xm"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)).toList)
      .sortBy(_.toString).toSeq
    for (qf <- Seq(() => q1(), () => q2())) {
      assert(hasBinCountExec(qf()), "bin-range pushdown did not fire")
      val got = rows(qf())
      val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
        assert(!hasBinCountExec(qf()))
        rows(qf())
      }
      assert(got === want && got.nonEmpty)
    }
    // DISTINCT (grouping-only): replicas dedup through the surviving
    // aggregate.
    val d = joinedBin().select(col("b_key")).distinct()
    assert(hasBinCountExec(d))
    val gotD = d.collect().map(_.getLong(0)).sorted.toSeq
    val wantD = withConf("spark.graft.rangejoin.countPushdown", "false") {
      joinedBin().select(col("b_key")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(gotD === wantD && gotD.nonEmpty)
  }

  test("bin-range count pushdown fires when the build side exceeds the broadcast budget") {
    graft.Graft.ensure(spark)
    val a = ivs(400, 43, "a_key")
    val b = ivs(60, 44, "b_key")
    // The canonical featureCounts query with a raw comparison predicate:
    // under a tiny budget the AUTO decision goes binrange, and the count
    // rule must keep the pair-free plan instead of reverting to the
    // general rewrite exactly when data is biggest.
    withConf("spark.graft.rangejoin.maxBroadcastBytes", "1") {
      def q() = joined(a, b).groupBy(col("b_key")).agg(count(lit(1)).as("n"))
      assert(hasBinCountExec(q()), "budget-forced binrange pushdown did not fire")
      val got = q().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
        assert(!hasBinCountExec(q()))
        q().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(got === want && got.nonEmpty)
    }
  }

  test("bin-range count pushdown: giant intervals spanning many bins count once") {
    graft.Graft.ensure(spark)
    import graft.SharedSpark.spark.implicits._
    // One counted interval spanning dozens of bins against index rows in
    // its first, interior, and last bins, plus index rows spanning the
    // whole range — the first-intersection-bin arithmetic must count each
    // pair exactly once. Tiny binWidth to force many replicas.
    val a = Seq((1L, "1", 100, 9999), (2L, "1", 5000, 5000), (3L, "2", 1, 10))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = Seq((1L, "1", 1, 20000), (2L, "1", 150, 160), (3L, "1", 5000, 5001),
      (4L, "1", 9999, 12000), (5L, "1", 99, 100), (6L, "1", 20, 99), (7L, "2", 10, 10))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    withConf("spark.graft.rangejoin.binWidth", "7") {
      withConf("spark.graft.rangejoin.method", "binrange") {
        for (key <- Seq("b_key", "a_key")) {
          def q() = joined(a, b).groupBy(col(key)).agg(count(lit(1)).as("n"))
          assert(hasBinCountExec(q()))
          val got = q().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
          val want = withConf("spark.graft.rangejoin.countPushdown", "false") {
            q().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
          }
          assert(got === want, s"bin-spanning counts diverged grouping by $key")
        }
      }
    }
  }

  test("bin-range count join == brute force under hash exchanges, any partitioning, AQE on/off") {
    graft.Graft.ensure(spark)
    import graft.SharedSpark.spark.implicits._
    // The giant-interval fixture, random intervals with a nullable
    // measure, and rows that can never match: null bounds, null contigs
    // and inverted (start > end) intervals, one of them with a null
    // contig too. Contig 3 holds one pair whose measures are both NULL.
    val rnd = new scala.util.Random(47)
    def random(base: Long, n: Int): Seq[Iv] = (1 to n).map { i =>
      val s = rnd.nextInt(300) + 1
      (base + i, Some((rnd.nextInt(2) + 1).toString), Some(s), Some(s + rnd.nextInt(40)),
        if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(100).toLong - 50))
    }
    val as: Seq[Iv] = Seq[Iv]((1L, Some("1"), Some(100), Some(9999), Some(5L)),
      (2L, Some("1"), Some(5000), Some(5000), None), (3L, Some("2"), Some(1), Some(10), Some(-3L)),
      (4L, Some("1"), None, Some(50), Some(1L)), (5L, None, Some(10), Some(60), Some(1L)),
      (6L, Some("1"), Some(50), Some(40), Some(1L)), (7L, Some("3"), Some(10), Some(20), None)) ++
      random(100L, 60)
    val bs: Seq[Iv] = Seq[Iv]((1L, Some("1"), Some(1), Some(20000), Some(2L)),
      (2L, Some("1"), Some(150), Some(160), None), (3L, Some("1"), Some(5000), Some(5001), Some(4L)),
      (4L, Some("1"), Some(9999), Some(12000), None), (5L, Some("1"), Some(99), Some(100), Some(6L)),
      (6L, Some("1"), Some(20), Some(99), Some(7L)), (7L, Some("2"), Some(10), Some(10), Some(8L)),
      (8L, Some("2"), Some(300), Some(200), Some(9L)), (9L, None, Some(9), Some(3), Some(1L)),
      (10L, Some("2"), Some(5), None, Some(1L)), (11L, Some("3"), Some(15), Some(18), None)) ++
      random(1000L, 40)
    // The contig equality's inferred `isnotnull(contig)` filter removes
    // the null-contig inverted row before the join, so two reach the exec.
    val inverted = (as ++ bs).count { case (_, c, s, e, _) =>
      c.isDefined && s.isDefined && e.isDefined && s.get > e.get }
    assert(inverted === 2)
    val a = as.toDF("a_key", "contig", "pos_start", "pos_end", "measure")
    val b = bs.toDF("b_key", "contig", "pos_start", "pos_end", "bm")
    // (key, pair count, SUM of the other side's measure — NULL when every
    // summed value is NULL) per counted key with at least one pair; rows
    // that can never match, inverted ones included, are dropped.
    def brute(counted: Seq[Iv], other: Seq[Iv]): Seq[(Long, Long, Option[Long])] = {
      def ok(iv: Iv) = iv._2.isDefined && iv._3.isDefined && iv._4.isDefined &&
        iv._3.get <= iv._4.get
      val os = other.filter(ok)
      counted.filter(ok).groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val ms = for (c <- rows; o <- os
          if c._2 == o._2 && c._4.get >= o._3.get && c._3.get <= o._4.get) yield o._5
        if (ms.isEmpty) None
        else Some((k, ms.size.toLong, if (ms.forall(_.isEmpty)) None else Some(ms.flatten.sum)))
      }.sorted
    }
    val want = Map("b_key" -> brute(bs, as), "a_key" -> brute(as, bs))
    assert(want.values.forall(_.exists(_._3.isEmpty)), "fixture lacks an all-NULL sum")
    def exchangeOf(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Some(e)
      case r: AQEShuffleReadExec => exchangeOf(r.child)
      case q: ShuffleQueryStageExec => exchangeOf(q.plan)
      case _ => None
    }
    withConf("spark.graft.rangejoin.binWidth", "7") {
      withConf("spark.graft.rangejoin.method", "binrange") {
        for (aqe <- Seq("true", "false"); parts <- Seq(1, 3, 13); byContig <- Seq(false, true)) {
          // Sides already co-partitioned on the contig alone are still
          // exchanged on (contig, bin), even where Spark's co-partition
          // conf would accept them: every cluster key is required, so a
          // hot contig spreads over its bins.
          val (l, r) =
            if (byContig) (a.repartition(3, col("contig")), b.repartition(3, col("contig")))
            else (a, b)
          withConf("spark.sql.requireAllClusterKeysForCoPartition", (!byContig).toString) {
            withConf("spark.sql.adaptive.enabled", aqe) {
              graft.SharedSpark.withShufflePartitions(parts) {
                for ((key, measure) <- Seq("b_key" -> l("measure"), "a_key" -> r("bm"))) {
                  val at = s"grouping by $key, AQE $aqe, $parts partitions, by contig $byContig"
                  val q = joined(l, r).groupBy(col(key))
                    .agg(count(lit(1)).as("n"), sum(measure).as("m"))
                  val got = q.collect().map(row => (row.getLong(0), row.getLong(1),
                    if (row.isNullAt(2)) None else Some(row.getLong(2)))).toSeq.sorted
                  assert(got === want(key), at)
                  val exec = binExec(q.queryExecution.executedPlan)
                    .getOrElse(fail(s"no IntervalBinCountJoin, $at"))
                  val exchanges = exec.children.flatMap(exchangeOf)
                  assert(exchanges.length === 2, s"$at:\n${q.queryExecution.executedPlan}")
                  exchanges.foreach { x =>
                    val cols = x.outputPartitioning match {
                      case h: HashPartitioning => h.expressions.map {
                        case att: Attribute => att.name
                        case other => other.sql
                      }
                      case other => Seq(other.toString)
                    }
                    assert(cols === Seq("contig", "bin"), at)
                  }
                  assert(exec.metrics("invertedDropped").value === inverted.toLong, at)
                }
              }
            }
          }
        }
      }
    }
  }

  test("two count joins against one gene frame share one broadcast exchange") {
    graft.Graft.ensure(spark)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    val genes = ivs(60, 41, "b_key")
    val r1 = ivs(300, 42, "a_key")
    val r2 = ivs(300, 43, "a_key")
    def counts(reads: DataFrame) = joined(reads, genes).groupBy(col("b_key"))
      .agg(count(lit(1)).as("n"))
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = (rows(counts(r1)) ++ rows(counts(r2))).sorted
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled", aqe) {
      val q = counts(r1).union(counts(r2))
      assert(rows(q) === want, s"AQE $aqe")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case ad: AdaptiveSparkPlanExec => nodes(ad.executedPlan)
        case s: QueryStageExec => nodes(s.plan)
        case other => other.children.flatMap(nodes)
      })
      val all = nodes(q.queryExecution.executedPlan)
      assert(all.count(_.isInstanceOf[IntervalCountJoinExec]) === 2)
      assert(all.count(_.isInstanceOf[BroadcastExchangeExec]) === 1 &&
        all.count {
          case ReusedExchangeExec(_, _: BroadcastExchangeExec) => true
          case _ => false
        } === 1, s"AQE $aqe:\n${q.queryExecution.executedPlan}")
    }
  }

  test("build-grouped DISTINCT emits one row per key, not one per stream partition") {
    graft.Graft.ensure(spark)
    import graft.SharedSpark.spark.implicits._
    // A 1-row build side advertises maxRows = 1; if the count node echoed
    // the counted side's maxRows in the build-grouped direction,
    // OptimizeOneRowPlan would trust it and remove the group-only
    // Aggregate — but the exec emits the matched build row once PER
    // STREAM PARTITION, so DISTINCT would return duplicates (r10 ADVICE,
    // reproduced with 8 stream partitions before the maxRows fix).
    val b = Seq((1L, "1", 10, 900)).toDF("b_key", "contig", "pos_start", "pos_end")
    val a = ivs(200, 31, "a_key").repartition(8)
    val q = joined(a, b).select(col("b_key")).distinct()
    assert(hasCountExec(q))
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("rank-difference counting survives duplicate coordinates and high partition counts") {
    graft.Graft.ensure(spark)
    import graft.SharedSpark.spark.implicits._
    // Duplicate starts/ends, abutting intervals, a contig with no rights,
    // and two inverted (start > end) stream rows that overlap nothing
    // under the per-pair predicate either.
    val a = Seq((1L, "1", 10, 20), (2L, "1", 10, 20), (3L, "1", 21, 30),
      (4L, "1", 500, 600), (5L, "2", 5, 9), (6L, "3", 1, 2),
      (7L, "1", 700, 650), (8L, "2", 50, 40))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = Seq((1L, "1", 20, 25), (2L, "1", 20, 25), (3L, "1", 26, 28),
      (4L, "2", 9, 9))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    withConf("spark.sql.shuffle.partitions", "16") {
      val q = joined(a, b).groupBy(col("b_key")).agg(count(lit(1)).as("n"))
      assert(hasCountExec(q))
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // By hand: b1/b2 (20,25) overlap a1,a2 (10,20) and a3 (21,30) -> 3 each;
      // b3 (26,28) overlaps a3 -> 1; b4 (2,"9..9") overlaps a5 (5,9) -> 1.
      assert(got === Seq((1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L)))
      // Grouped by the build side, the inverted stream rows are dropped
      // and counted, as in the stream-grouped direction.
      val exec = execOf[IntervalCountJoinExec](q.queryExecution.executedPlan).get
      assert(!exec.buildLeft && exec.metrics("invertedDropped").value === 2L)
    }
  }
}
