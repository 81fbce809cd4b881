package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import scala.util.Random

/** Interval-join correctness: differential vs stock Spark (SURVEY §5
  * pattern 1), mode/build-side invariance, conf semantics, and plan-shape
  * assertions (reference suites: GRangesTestSuite, JoinOrderTestSuite,
  * IntervalTreeRedBlackTestSuite). */
class IntervalJoinSpec extends SparkSpec {

  import org.apache.spark.sql.Row

  private def randomIntervals(n: Int, seed: Long, keyCol: String): DataFrame = {
    val rnd = new Random(seed)
    val rows = Seq.fill(n) {
      val s = rnd.nextInt(500) + 1
      (rnd.nextInt().toLong, rnd.nextInt(3).toString, s, s + rnd.nextInt(40))
    }
    import graft.SharedSpark.spark.implicits._
    rows.toDF(keyCol, "contig", "pos_start", "pos_end")
  }

  private def joined(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b,
      a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") &&
      a("pos_start") <= b("pos_end"))

  private def collectSorted(df: DataFrame): Seq[Row] =
    df.select(col("a_key"), col("b_key")).collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(1)))

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def usesForestJoin(df: DataFrame): Boolean = {
    def strip(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    def any(p: SparkPlan): Boolean =
      p.isInstanceOf[IntervalForestJoinExec] || strip(p).exists(any)
    any(physical(df))
  }

  test("bigint coordinate columns still plan the forest join (widening)") {
    val a = randomIntervals(300, 41, "a_key")
      .withColumn("pos_start", col("pos_start").cast("bigint"))
      .withColumn("pos_end", col("pos_end").cast("bigint"))
    val b = randomIntervals(50, 42, "b_key")
      .withColumn("pos_start", col("pos_start").cast("bigint"))
      .withColumn("pos_end", col("pos_end").cast("bigint"))
    val df = joined(a, b)
    assert(usesForestJoin(df), "bigint coordinates must not fall back to BNLJ")
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      collectSorted(joined(a, b))
    }
    assert(collectSorted(df) === stock)
    // Mixed int/long sides (analyzer inserts widening casts) as well.
    val mixed = joined(randomIntervals(300, 41, "a_key"), b)
    assert(usesForestJoin(mixed))
    assert(collectSorted(mixed) === stock)
  }

  test("differential: forest join equals stock Spark on random data") {
    val a = randomIntervals(400, 1, "a_key")
    val b = randomIntervals(60, 2, "b_key")
    val withEngine = collectSorted(joined(a, b))
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      collectSorted(joined(a, b))
    }
    assert(withEngine.nonEmpty)
    assert(withEngine === stock)
  }

  test("bin-range mode and forced build sides give identical results") {
    val a = randomIntervals(300, 3, "a_key")
    val b = randomIntervals(50, 4, "b_key")
    val base = collectSorted(joined(a, b))
    for ((k, v) <- Seq(
        "spark.graft.rangejoin.method" -> "binrange",
        "spark.graft.rangejoin.method" -> "twophase", // legacy alias
        "spark.graft.rangejoin.buildSide" -> "left",
        "spark.graft.rangejoin.buildSide" -> "right")) {
      assert(withConf(k, v) { collectSorted(joined(a, b)) } === base, s"$k=$v")
    }
  }

  test("broadcast probe runs inside whole-stage codegen, no fallback") {
    val a = randomIntervals(400, 31, "a_key")
    val b = randomIntervals(60, 32, "b_key")
    val base = collectSorted(joined(a, b))
    // fallback=false turns a silent interpreted fallback (codegen compile
    // error) into a test failure.
    val strict = withConf("spark.sql.codegen.fallback", "false") {
      collectSorted(joined(a, b))
    }
    assert(strict === base)
    val df = joined(a, b)
    df.collect()
    val text = (physical(df) match {
      case ap: AdaptiveSparkPlanExec => ap.executedPlan
      case p => p
    }).toString
    // Inside a WholeStageCodegen span the node prints with a '*(id)' mark.
    assert(text.contains("IntervalForestJoin"), text)
    assert("""\*\(\d+\) IntervalForestJoin""".r.findFirstIn(text).isDefined,
      s"forest join not codegen'd:\n$text")
  }

  test("semi/anti/outer broadcast probes run inside whole-stage codegen, no fallback") {
    // r10 VERDICT #2: the stream-side probe is the 100 TB hot loop for
    // existence filters and preserved-side joins too. Each must sit inside
    // a WholeStageCodegen span (and return identical rows under
    // codegen.fallback=false); a residual-carrying anti must still answer
    // correctly on the interpreted path. left_outer exercises the
    // null-padded build row (match-less stream rows exist at these sizes);
    // right_outer the mirrored stream side.
    val a = randomIntervals(400, 33, "a_key")
    val b = randomIntervals(60, 34, "b_key")
    for (jt <- Seq("left_semi", "left_anti", "left_outer", "right_outer")) {
      def q() = a.join(b,
        a("contig") === b("contig") &&
        a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end"), jt)
      val base = q().collect().map(_.toString).sorted.toSeq
      val strict = withConf("spark.sql.codegen.fallback", "false") {
        q().collect().map(_.toString).sorted.toSeq
      }
      assert(strict === base && base.nonEmpty)
      // The generated probe must agree with the interpreted one (codegen
      // off) — base vs strict alone would compare codegen with itself.
      val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
        q().collect().map(_.toString).sorted.toSeq
      }
      assert(interpreted === base, s"$jt codegen diverged from interpreted")
      if (jt.endsWith("outer")) assert(base.exists(_.contains("null")),
        s"$jt fixture produced no null-padded rows — pad path untested")
      val df = q()
      df.collect()
      val text = (physical(df) match {
        case ap: AdaptiveSparkPlanExec => ap.executedPlan
        case p => p
      }).toString
      assert("""\*\(\d+\) IntervalForestJoin""".r.findFirstIn(text).isDefined,
        s"$jt forest join not codegen'd:\n$text")
    }
    // Residual conjunct: interpreted path, same answer as stock Spark.
    def qr() = a.join(b,
      a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end") &&
      (a("a_key") + b("b_key")) % 7 =!= 0, "left_anti")
    val gotR = qr().collect().map(_.toString).sorted.toSeq
    val wantR = withConf("spark.graft.rangejoin.enabled", "false") {
      qr().collect().map(_.toString).sorted.toSeq
    }
    assert(gotR === wantR && gotR.nonEmpty)
  }

  test("bin-range mode dedups pairs spanning many bins (tiny binWidth)") {
    val a = randomIntervals(300, 21, "a_key")
    val b = randomIntervals(50, 22, "b_key")
    val base = collectSorted(joined(a, b))
    val got = withConf("spark.graft.rangejoin.method", "binrange") {
      // Intervals are up to ~40 wide in [1, 540]; width 7 forces nearly every
      // pair's intersection to span several bins.
      withConf("spark.graft.rangejoin.binWidth", "7") {
        collectSorted(joined(a, b))
      }
    }
    assert(got === base)
  }

  test("degenerate (start > end) rows match stock Spark in both modes") {
    import graft.SharedSpark.spark.implicits._
    // b row [30, 10] is inverted; the raw predicate still matches any a row
    // covering [10, 30]. The engine must not drop it via an overlap-length
    // rewrite (ADVICE r2: filter was stronger than the predicate).
    val a = Seq((1L, "1", 5, 40), (2L, "1", 12, 20), (3L, "1", 35, 50))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = Seq((10L, "1", 30, 10), (11L, "1", 18, 22))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      collectSorted(joined(a, b))
    }
    assert(collectSorted(joined(a, b)) === stock)
    val bin = withConf("spark.graft.rangejoin.method", "binrange") {
      collectSorted(joined(a, b))
    }
    assert(bin === stock)
  }

  test("minOverlap conf filters pairs below the overlap length") {
    val a = randomIntervals(200, 5, "a_key")
    val b = randomIntervals(40, 6, "b_key")
    val expected = withConf("spark.graft.rangejoin.enabled", "false") {
      collectSorted(joined(a, b).filter(
        least(a("pos_end"), b("pos_end")) - greatest(a("pos_start"), b("pos_start")) + 1 >= 10))
    }
    val got = withConf("spark.graft.rangejoin.minOverlap", "10") {
      collectSorted(joined(a, b))
    }
    assert(got === expected)
  }

  test("maxGap conf admits pairs within the gap") {
    val a = randomIntervals(200, 7, "a_key")
    val b = randomIntervals(40, 8, "b_key")
    // Widening the build side by g is equivalent to admitting pairs whose
    // gap is <= g: overlap(a, widen(b, g)) >= 1 iff calcOverlap >= 1-g.
    val expected = withConf("spark.graft.rangejoin.enabled", "false") {
      val cond = a("contig") === b("contig") &&
        (least(a("pos_end"), b("pos_end") + 5) - greatest(a("pos_start"), b("pos_start") - 5) + 1) >= 1
      collectSorted(a.join(b, cond))
    }
    val got = withConf("spark.graft.rangejoin.maxGap", "5") {
      collectSorted(joined(a, b))
    }
    assert(got === expected)
  }

  test("auto mode switches to bin-range when the build side exceeds the threshold") {
    val a = randomIntervals(300, 15, "a_key")
    val b = randomIntervals(50, 16, "b_key")
    val base = collectSorted(joined(a, b))
    val (rows, usedBinRange) = withConf("spark.graft.rangejoin.maxBroadcastBytes", "1") {
      val df = joined(a, b)
      val plan = df.queryExecution.executedPlan.toString
      // Inner bin-range plans the Catalyst equi-join rewrite: exploded
      // __graft_bin keys, no custom exec, no nested-loop join.
      (collectSorted(df), plan.contains("__graft_bin"))
    }
    assert(usedBinRange, "size-based auto selection should pick the bin-range fallback")
    assert(rows === base)
  }

  test("broadcast hint forces the forest over a tiny threshold and names the build side") {
    val a = randomIntervals(300, 15, "a_key")
    val b = randomIntervals(50, 16, "b_key")
    val base = collectSorted(joined(a, b))
    // With maxBroadcastBytes=1 auto would take the bin-range path (prior
    // test); a broadcast hint on b must override the stats decision —
    // standard Spark hint semantics — and plan the broadcast forest.
    val (rows, plan) = withConf("spark.graft.rangejoin.maxBroadcastBytes", "1") {
      val df = a.join(broadcast(b),
        a("contig") === b("contig") &&
        a("pos_end") >= b("pos_start") &&
        a("pos_start") <= b("pos_end"))
      (collectSorted(df), df.queryExecution.executedPlan.toString)
    }
    // The forest exec is broadcast-only: planning it IS the broadcast.
    assert(plan.contains("IntervalForestJoin"), plan.linesIterator.take(8).mkString("\n"))
    assert(!plan.contains("__graft_bin"))
    assert(rows === base)
    // The hinted side becomes the build side even when stats favor the
    // other: hint the LARGER side and check it builds (buildLeft=true).
    val df2 = broadcast(a).join(b,
      a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") &&
      a("pos_start") <= b("pos_end"))
    val exec2 = {
      def find(p: SparkPlan): Option[IntervalForestJoinExec] = p match {
        case e: IntervalForestJoinExec => Some(e)
        case ap: AdaptiveSparkPlanExec => find(ap.executedPlan)
        case other => other.children.view.flatMap(find).headOption
      }
      find(physical(df2))
    }
    assert(exec2.exists(_.buildLeft), "hinted left side should build")
    assert(collectSorted(df2) === base)
  }

  test("bin-range rewrite is AQE-invariant") {
    val a = randomIntervals(300, 91, "a_key")
    val b = randomIntervals(60, 92, "b_key")
    val run = (aqe: String) =>
      withConf("spark.sql.adaptive.enabled", aqe) {
        withConf("spark.graft.rangejoin.method", "binrange") {
          collectSorted(joined(a, b))
        }
      }
    assert(run("true") === run("false"))
  }

  test("bin-range SQL rewrite matches brute force (incl. gap/overlap confs)") {
    // Both sides carry rows that can never match (null contig, null
    // bounds, an out-of-range interval): outer/anti/full must keep them,
    // semi must drop them.
    val a = withUnmatchable(randomIntervals(300, 77, "a_key"), "a_key")
    val b = withUnmatchable(randomIntervals(60, 78, "b_key"), "b_key")
    def rows(df: DataFrame) = df.collect().toSeq.map(r => (r.getLong(0),
      Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Int]),
      Option(r.get(3)).map(_.asInstanceOf[Int])))
    val (as, bs) = (rows(a), rows(b))
    def keyPairs(df: DataFrame): Seq[(Option[Long], Option[Long])] =
      df.collect().toSeq.map { r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]),
          if (r.length > 1) Option(r.get(1)).map(_.asInstanceOf[Long]) else None)
      }.sorted
    for ((ov, gap) <- Seq((1, 0), (10, 0), (1, 25))) {
      // maxGap widens the build side before both the overlap and the
      // minOverlap test; minOverlap > 1 only runs at gap 0, so the pair
      // set does not depend on which side builds (right_outer pins left).
      val pairs = for {
        (ak, ac, aStart, aEnd) <- as
        (bk, bc, bStart0, bEnd0) <- bs
        if ac.isDefined && ac == bc &&
          Seq(aStart, aEnd, bStart0, bEnd0).forall(_.isDefined)
        (bStart, bEnd) = (bStart0.get - gap, bEnd0.get + gap)
        if bEnd >= aStart.get && bStart <= aEnd.get &&
          math.min(aEnd.get, bEnd) - math.max(aStart.get, bStart) + 1 >= ov
      } yield (ak, bk)
      val matchedA = pairs.map(_._1).toSet
      val matchedB = pairs.map(_._2).toSet
      val unmatchedA = as.map(_._1).filterNot(matchedA)
      val unmatchedB = bs.map(_._1).filterNot(matchedB)
      val inner = pairs.map { case (x, y) => (Option(x), Option(y)) }
      val want = Map(
        "inner" -> inner,
        "left_outer" -> (inner ++ unmatchedA.map(k => (Option(k), None))),
        "right_outer" -> (inner ++ unmatchedB.map(k => (None, Option(k)))),
        "full_outer" -> (inner ++ unmatchedA.map(k => (Option(k), None)) ++
          unmatchedB.map(k => (None, Option(k)))),
        "left_semi" -> as.map(_._1).filter(matchedA).map(k => (Option(k), None)),
        "left_anti" -> unmatchedA.map(k => (Option(k), None)))
      assert(pairs.nonEmpty && unmatchedA.nonEmpty && unmatchedB.nonEmpty)
      for ((jt, expected) <- want; aqe <- Seq("true", "false")) {
        val got = withConf("spark.sql.adaptive.enabled", aqe) {
          withConf("spark.graft.rangejoin.method", "binrange") {
            withConf("spark.graft.rangejoin.buildSide", "right") {
              withConf("spark.graft.rangejoin.minOverlap", ov.toString) {
                withConf("spark.graft.rangejoin.maxGap", gap.toString) {
                  val joinedDf = typedJoin(a, b, jt)
                  val df = if (jt.startsWith("left_s") || jt == "left_anti")
                    joinedDf.select(col("a_key")) else joinedDf.select(col("a_key"), col("b_key"))
                  assert(df.queryExecution.optimizedPlan.toString.contains(BinRangeRewrite.BinAttr),
                    s"$jt was not rewritten to bins:\n${df.queryExecution.optimizedPlan}")
                  keyPairs(df)
                }
              }
            }
          }
        }
        assert(got === expected.sorted, s"$jt minOverlap=$ov maxGap=$gap aqe=$aqe")
      }
    }
  }

  test("non-inner joins pinned to binrange plan stock Catalyst operators over Spark exchanges") {
    import graft.functions.IntervalOverlaps
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val a = withUnmatchable(randomIntervals(200, 81, "a_key"), "a_key")
    val b = withUnmatchable(randomIntervals(40, 82, "b_key"), "b_key")
    for (jt <- Seq("left_outer", "left_anti", "full_outer")) {
      val plan = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        withConf("spark.sql.adaptive.enabled", "false") {
          physical(a.join(b, a("contig") === b("contig") && IntervalOverlaps.of(a("pos_start"),
            a("pos_end"), b("pos_start"), b("pos_end"), method = "binrange"), jt))
        }
      }
      val text = plan.toString
      val all = plan.collect { case p => p }
      assert(!all.exists(_.isInstanceOf[IntervalForestJoinExec]), s"$jt:\n$text")
      assert(!all.exists(_.nodeName.contains("RDD")), s"$jt plans an RDD scan:\n$text")
      // Every operator is stock Spark: the only shuffles are its exchanges.
      val foreign = all.filterNot(_.getClass.getName.startsWith("org.apache.spark.sql.execution"))
      assert(foreign.isEmpty, s"$jt plans non-Spark nodes ${foreign.map(_.nodeName)}:\n$text")
      assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
        s"$jt:\n$text")
      assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]), s"$jt:\n$text")
      assert(text.contains("ExistenceJoin"), s"$jt verdicts must be an existence join:\n$text")
      // The output carries `contig`: a string column carried through
      // first() would make the verdict aggregate a SortAggregate.
      assert(all.exists(_.isInstanceOf[HashAggregateExec]) &&
        !all.exists(_.isInstanceOf[SortAggregateExec]), s"$jt:\n$text")
    }
  }

  test("EXISTS subqueries pinned to binrange take the rewrite from the strategy") {
    // RewritePredicateSubquery makes these semi/anti joins after the
    // pre-CBO batch, so BinRangeLogicalRule never sees them: the
    // strategy's own rewrite branch plans them.
    withUnmatchable(randomIntervals(300, 83, "a_key"), "a_key").createOrReplaceTempView("exists_a")
    randomIntervals(30, 84, "b_key").createOrReplaceTempView("exists_b")
    for (neg <- Seq("", "NOT ")) {
      val q = s"""SELECT a_key FROM exists_a WHERE ${neg}EXISTS (SELECT 1 FROM exists_b b
                 |  WHERE exists_a.contig = b.contig AND exists_a.pos_end >= b.pos_start
                 |    AND exists_a.pos_start <= b.pos_end)""".stripMargin
      val stock = withConf("spark.graft.rangejoin.enabled", "false") {
        collectAllSorted(spark.sql(q))
      }
      val (got, optimized, plan) = withConf("spark.graft.rangejoin.method", "binrange") {
        val df = spark.sql(q)
        (collectAllSorted(df), df.queryExecution.optimizedPlan.toString, physical(df).toString)
      }
      assert(!optimized.contains(BinRangeRewrite.BinAttr), s"${neg}EXISTS:\n$optimized")
      assert(plan.contains("ExistenceJoin") && !plan.contains("IntervalForestJoin"),
        s"${neg}EXISTS:\n$plan")
      assert(stock.nonEmpty && got === stock, s"${neg}EXISTS")
    }
  }

  test("exact counts on sf0.001 are stable") {
    val a = Tables.ivA(spark, sf0001)
    val b = Tables.ivB(spark, sf0001)
    assert(joined(a, b).count() === 11113L)
    val nochr = a.filter(col("contig") === "3").as("x")
      .join(b.filter(col("contig") === "3").as("y"),
        expr("x.pos_end >= y.pos_start AND x.pos_start <= y.pos_end"))
    assert(nochr.count() === 1421L)
  }

  test("plan shape: <=/>= matches forest join, strict < falls through") {
    val a = randomIntervals(50, 9, "a_key")
    val b = randomIntervals(50, 10, "b_key")
    assert(usesForestJoin(joined(a, b)))
    val strict = a.join(b,
      a("contig") === b("contig") &&
      a("pos_end") > b("pos_start") &&
      a("pos_start") < b("pos_end"))
    assert(!usesForestJoin(strict))
    val disabled = withConf("spark.graft.rangejoin.enabled", "false") {
      // plan is resolved lazily; force planning inside the conf scope
      val df = joined(a, b); df.queryExecution.executedPlan; df
    }
    assert(!usesForestJoin(disabled))
  }

  test("residual conjuncts are applied after the forest join") {
    val a = randomIntervals(200, 11, "a_key")
    val b = randomIntervals(40, 12, "b_key")
    // References both sides, so it cannot be pushed below the join — it
    // must survive as a residual FilterExec above the forest join.
    val cross = (a("a_key") + b("b_key")) % 2 === 0
    val residual = joined(a, b).where(cross)
    assert(usesForestJoin(residual))
    val expected = withConf("spark.graft.rangejoin.enabled", "false") {
      collectSorted(joined(a, b).where(cross))
    }
    assert(collectSorted(residual) === expected)
  }

  test("custom interval holder via conf (pluggable build-side structure)") {
    val a = randomIntervals(200, 31, "a_key")
    val b = randomIntervals(40, 32, "b_key")
    val base = collectSorted(joined(a, b))
    val got = withConf("spark.graft.rangejoin.intervalHolderClass",
        classOf[graft.plans.NaiveListHolderFactory].getName) {
      collectSorted(joined(a, b))
    }
    assert(got === base)
    assert(graft.plans.NaiveListHolderFactory.built.get() > 0,
      "the configured factory must actually be used")
  }

  /** Every broadcast-regime graft exec of an executed plan, looking inside
    * adaptive query stages, with its build child (past codegen's input
    * adapter). */
  private def builds(df: DataFrame): Seq[(SparkPlan, SparkPlan)] = {
    import org.apache.spark.sql.execution.InputAdapter
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case ap: AdaptiveSparkPlanExec => nodes(ap.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    nodes(physical(df)).collect {
      case f: IntervalForestJoinExec => f -> (if (f.buildLeft) f.left else f.right)
      case c: IntervalCountJoinExec => c -> (if (c.buildLeft) c.left else c.right)
      case p: BroadcastProbeExec => p -> p.right
    }.map { case (e, InputAdapter(b)) => (e, b); case eb => eb }
  }

  test("broadcast-regime execs take their build child from one Spark broadcast exchange") {
    import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val a = randomIntervals(400, 95, "a_key")
    val b = randomIntervals(60, 96, "b_key")
    def ivs(df: DataFrame) = df.collect().toSeq.map(r => (r.getLong(0), r.getString(1),
      r.getInt(2), r.getInt(3)))
    val (as, bs) = (ivs(a), ivs(b))
    // The brute-force model: every overlapping pair on a shared contig.
    val pairs = for (x <- as; y <- bs if x._2 == y._2 && x._4 >= y._3 && x._3 <= y._4)
      yield (x._1, y._1)
    def show(xs: Seq[Any]): Seq[String] = xs.map(_.toString).sorted
    def opt(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val fullOuter = pairs.map { case (x, y) => (Some(x), Some(y)) } ++
      as.map(_._1).filterNot(pairs.map(_._1).toSet).map(x => (Some(x), None)) ++
      bs.map(_._1).filterNot(pairs.map(_._2).toSet).map(y => (None, Some(y)))
    val cases = Seq[(String, () => DataFrame, Row => Any, Seq[Any])](
      ("inner", () => joined(a, b).select("a_key", "b_key"),
        r => (r.getLong(0), r.getLong(1)), pairs),
      ("full outer", () => typedJoin(a, b, "full_outer").select("a_key", "b_key"),
        r => (opt(r, 0), opt(r, 1)), fullOuter),
      ("count", () => joined(a, b).groupBy("b_key").agg(count(lit(1))),
        r => (r.getLong(0), r.getLong(1)), pairs.groupBy(_._2).map { case (y, ps) =>
          (y, ps.length.toLong) }.toSeq))
    for (aqe <- Seq("true", "false"); (name, q, row, want) <- cases) {
      val at = s"$name, AQE $aqe"
      withConf("spark.sql.adaptive.enabled", aqe) {
        val df = q()
        assert(show(df.collect().toSeq.map(row)) === show(want), at)
        val found = builds(df)
        assert(found.length === 1, s"$at:\n${physical(df)}")
        val exchange = found.head._2 match {
          case x: BroadcastExchangeExec => x
          case BroadcastQueryStageExec(_, x: BroadcastExchangeExec, _) => x
          case other => fail(s"$at: build child is not a broadcast exchange:\n$other")
        }
        assert(exchange.metrics("dataSize").value > 0L, at)
        def exchanges(p: SparkPlan): Int = p.collect {
          case _: BroadcastExchangeExec => 1
          case ap: AdaptiveSparkPlanExec => exchanges(ap.executedPlan)
          case q: QueryStageExec => exchanges(q.plan)
        }.sum
        assert(exchanges(physical(df)) === 1, s"$at:\n${physical(df)}")
      }
    }
  }

  test("the Scala API's nearest probe reads one broadcast exchange, reused by two joins") {
    import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import graft.operators.NearestJoinOps
    val a1 = randomIntervals(300, 61, "a_key")
    val a2 = randomIntervals(300, 62, "a_key")
    val b = randomIntervals(60, 63, "b_key")
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(4), r.getInt(8)))
      .toSeq.sorted
    val want1 = rows(NearestJoinOps.nearestKJoin(a1, b, 3, "merge"))
    val want2 = rows(NearestJoinOps.nearestKJoin(a2, b, 2, "merge"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case ad: AdaptiveSparkPlanExec => nodes(ad.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other.children.flatMap(nodes)
    })
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled", aqe) {
      val near = NearestJoinOps.nearestKJoin(a1, b, 3)
      assert(rows(near) === want1, s"AQE $aqe")
      val found = builds(near)
      assert(found.length === 1, s"AQE $aqe:\n${physical(near)}")
      found.head._2 match {
        case _: BroadcastExchangeExec | BroadcastQueryStageExec(_, _: BroadcastExchangeExec, _) =>
        case other =>
          fail(s"AQE $aqe: the probe's build child is not a broadcast exchange:\n$other")
      }
      assert(nodes(physical(near)).count(_.isInstanceOf[BroadcastExchangeExec]) === 1)
      assert(found.head._1.metrics("buildRows").value === 60L, s"AQE $aqe")
      assert(near.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
        .contains("BroadcastProbe nearest-k k=3 both"), s"AQE $aqe")
      // Two nearest joins against one right frame share its exchange.
      val two = NearestJoinOps.nearestKJoin(a1, b, 3).union(NearestJoinOps.nearestKJoin(a2, b, 2))
      assert(rows(two) === (want1 ++ want2).sorted, s"AQE $aqe")
      val all = nodes(physical(two))
      assert(all.count(_.isInstanceOf[BroadcastProbeExec]) === 2)
      assert(all.count(_.isInstanceOf[BroadcastExchangeExec]) === 1 &&
        all.count {
          case ReusedExchangeExec(_, _: BroadcastExchangeExec) => true
          case _ => false
        } === 1, s"AQE $aqe:\n${physical(two)}")
    }
  }

  test("the forest build is counted once, not once per stream partition") {
    // Eight stream partitions on four cores: every task reads the one
    // broadcast, the driver counts its rows once, and each JVM builds the
    // holders once.
    val a = randomIntervals(400, 97, "a_key").repartition(8)
    val b = randomIntervals(60, 98, "b_key")
    val base = collectSorted(joined(a, b))
    val before = graft.plans.NaiveListHolderFactory.built.get()
    val df = joined(a, b).select("a_key", "b_key")
    val got = withConf("spark.graft.rangejoin.intervalHolderClass",
        classOf[graft.plans.NaiveListHolderFactory].getName) {
      df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    }
    assert(got === base)
    assert(graft.plans.NaiveListHolderFactory.built.get() - before === 1)
    val found = builds(df)
    assert(found.length === 1)
    assert(found.head._1.metrics("buildRows").value === 60L)
  }

  // ---- non-inner join types (beyond the reference: stock Spark plans all
  // of these as BroadcastNestedLoopJoin) ----

  /** Full-row comparison robust to nulls in outer-padded columns. */
  private def collectAllSorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def typedJoin(l: DataFrame, r: DataFrame, jt: String): DataFrame =
    l.join(r,
      l("contig") === r("contig") &&
      l("pos_end") >= r("pos_start") &&
      l("pos_start") <= r("pos_end"), jt)

  /** Preserved side carrying rows that can never match: a null contig, an
    * out-of-range interval, and null coordinates — outer/anti must emit
    * them, semi must drop them, exactly as stock Spark does. */
  private def withUnmatchable(df: DataFrame, keyCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.unionByName(Seq((9001L, null.asInstanceOf[String], 10, 20))
        .toDF(keyCol, "contig", "pos_start", "pos_end"))
      .unionByName(Seq(9002L).toDF(keyCol)
        .selectExpr(keyCol, "'1' AS contig", "CAST(NULL AS INT) AS pos_start",
          "CAST(NULL AS INT) AS pos_end"))
      .unionByName(Seq((9003L, "1", 100000, 100010))
        .toDF(keyCol, "contig", "pos_start", "pos_end"))
  }

  test("outer/semi/anti join types match stock Spark in both modes") {
    val a = withUnmatchable(randomIntervals(300, 61, "a_key"), "a_key")
    val b = randomIntervals(25, 62, "b_key") // sparse: many unmatched a rows
    for (jt <- Seq("left_outer", "right_outer", "left_semi", "left_anti");
         (l, r) <- Seq((a, b), (b, a))) {
      val df = typedJoin(l, r, jt)
      assert(usesForestJoin(df), s"$jt must plan the forest join")
      val stock = withConf("spark.graft.rangejoin.enabled", "false") {
        collectAllSorted(typedJoin(l, r, jt))
      }
      assert(collectAllSorted(df) === stock, s"$jt broadcast mode (l=${l eq a})")
      val bin = withConf("spark.graft.rangejoin.method", "binrange") {
        collectAllSorted(typedJoin(l, r, jt))
      }
      assert(bin === stock, s"$jt binrange mode (l=${l eq a})")
    }
  }

  test("full-outer joins plan a SINGLE forest exec (one scan per side) and match stock Spark") {
    val a = withUnmatchable(randomIntervals(200, 67, "a_key"), "a_key")
    val b = withUnmatchable(randomIntervals(25, 68, "b_key"), "b_key")
    val df = typedJoin(a, b, "full_outer")
    val plan = physical(df)
    val planText = plan.toString
    assert(!planText.contains("BroadcastNestedLoopJoin"),
      s"full outer must not fall back to BNLJ:\n$planText")
    // Single-pass: exactly one exec node, no LeftOuter ∪ RightAnti
    // decomposition — each child subtree appears (and is scanned) once.
    def countNodes(p: SparkPlan, pred: SparkPlan => Boolean): Int =
      (if (pred(p)) 1 else 0) + (p match {
        case ap: AdaptiveSparkPlanExec => countNodes(ap.executedPlan, pred)
        case _ => p.children.map(countNodes(_, pred)).sum
      })
    assert(countNodes(plan, _.isInstanceOf[IntervalForestJoinExec]) === 1,
      s"full outer must plan exactly one forest exec:\n$planText")
    assert(countNodes(plan, _.nodeName.contains("Join")) === 1,
      s"full outer must not decompose into two joins:\n$planText")
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      collectAllSorted(typedJoin(a, b, "full_outer"))
    }
    assert(collectAllSorted(df) === stock, "full outer broadcast")
    val bin = withConf("spark.graft.rangejoin.method", "binrange") {
      collectAllSorted(typedJoin(a, b, "full_outer"))
    }
    assert(bin === stock, "full outer binrange")
    // Build side is unpinned for full outer (both sides preserved): either
    // forced side must agree, in both modes.
    for (side <- Seq("left", "right"); method <- Seq("broadcast", "binrange")) {
      val got = withConf("spark.graft.rangejoin.buildSide", side) {
        withConf("spark.graft.rangejoin.method", method) {
          collectAllSorted(typedJoin(a, b, "full_outer"))
        }
      }
      assert(got === stock, s"full outer buildSide=$side method=$method")
    }
    // Residual + gap/overlap confs decide matched-ness on BOTH sides.
    val cond = a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") &&
      a("pos_start") <= b("pos_end") &&
      (a("a_key") + b("b_key")) % 3 === 0
    val stockResid = withConf("spark.graft.rangejoin.enabled", "false") {
      collectAllSorted(a.join(b, cond, "full_outer"))
    }
    assert(collectAllSorted(a.join(b, cond, "full_outer")) === stockResid,
      "full outer with residual, broadcast")
    val binResid = withConf("spark.graft.rangejoin.method", "binrange") {
      collectAllSorted(a.join(b, cond, "full_outer"))
    }
    assert(binResid === stockResid, "full outer with residual, binrange")
  }

  test("non-inner residual decides matched-ness inside the join") {
    val a = withUnmatchable(randomIntervals(250, 63, "a_key"), "a_key")
    val b = randomIntervals(30, 64, "b_key")
    for (jt <- Seq("left_outer", "left_semi", "left_anti")) {
      val cond = a("contig") === b("contig") &&
        a("pos_end") >= b("pos_start") &&
        a("pos_start") <= b("pos_end") &&
        (a("a_key") + b("b_key")) % 3 === 0 // residual over both sides
      val df = a.join(b, cond, jt)
      assert(usesForestJoin(df), s"$jt with residual must still plan the forest join")
      val stock = withConf("spark.graft.rangejoin.enabled", "false") {
        collectAllSorted(a.join(b, cond, jt))
      }
      assert(collectAllSorted(df) === stock, s"$jt broadcast+residual")
      val bin = withConf("spark.graft.rangejoin.method", "binrange") {
        collectAllSorted(a.join(b, cond, jt))
      }
      assert(bin === stock, s"$jt binrange+residual")
    }
  }

  test("nearest join matches the brute-force min-distance window") {
    import graft.Tables
    val a = Tables.ivA(spark, graft.SharedSpark.sf0001)
    val b = Tables.ivB(spark, graft.SharedSpark.sf0001)
    val got = graft.operators.NearestJoinOps.nearestJoin(a, b)
      .select(col("a_key"), col("b_key"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // Brute force: all same-contig pairs, min-distance window, keep ties.
    val d = greatest(b("pos_start") - a("pos_end"), a("pos_start") - b("pos_end"), lit(0))
    val all = a.join(b, a("contig") === b("contig"))
      .select(a("a_key"), a("contig"), a("pos_start").as("ls"), a("pos_end").as("le"),
        b("b_key"), d.as("distance"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_key"), col("contig"), col("ls"), col("le"))
    val brute = all.withColumn("md", min(col("distance")).over(w))
      .filter(col("distance") === col("md"))
      .select(col("a_key"), col("b_key"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got === brute)
    // The both-sides-large merge regime (phase-1 distributed distance
    // sweep + phase-2 residual interval join) must emit the identical
    // pair set — same rows, same ties, same distances.
    val merged = graft.operators.NearestJoinOps.nearestJoin(a, b, "merge")
      .select(col("a_key"), col("b_key"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(merged === brute)
  }

  test("merge nearest join leaves no persisted RDD blocks behind") {
    // r8 VERDICT #3: phase-1 persisted its sorted endpoint RDD and never
    // released it, so repeated merge-regime calls accumulated
    // MEMORY_AND_DISK blocks. The rewrite persists only the pre-shuffle
    // endpoint frame (to share one input scan between range sampling and
    // the shuffle map) and unpersists it in-method — downstream passes
    // re-read shuffle files. After materializing the result, the
    // context's persistent-RDD registry must be exactly what it was.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val a = randomIntervals(200, 77, "a_key")
    val b = randomIntervals(120, 78, "b_key")
    val n = graft.operators.NearestJoinOps.nearestJoin(a, b, "merge").count()
    assert(n > 0)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"merge nearest join leaked persisted RDDs: ${after -- before}")
  }

  test("merge nearest join covers flank ties, absent contigs, and overlap-at-start") {
    import graft.SharedSpark.spark.implicits._
    val l = Seq(
      ("1", 100, 110), // equidistant flanks: rights ending 90 and starting 120 -> d=10, both emit
      ("1", 300, 310), // overlap (right 305..400)
      ("2", 50, 60),   // right starts exactly at pos_end -> overlap d=0
      ("3", 10, 20),   // no right on contig 3 -> dropped
      ("1", 100, 110)  // duplicate left row: both copies emit
    ).toDF("contig", "pos_start", "pos_end")
    val r = Seq(
      ("1", 80, 90), ("1", 120, 130), ("1", 305, 400), ("2", 60, 70)
    ).toDF("contig", "pos_start", "pos_end")
    // Both paths emit left cols ++ right cols ++ distance with duplicate
    // names; compare on the raw positional columns.
    def runPos(method: String) = {
      val out = graft.operators.NearestJoinOps.nearestJoin(l, r, method)
      val n = out.columns.length
      out.collect().map(x => (x.getString(0), x.getInt(1), x.getInt(2),
        x.getString(3), x.getInt(4), x.getInt(5), x.getInt(n - 1))).sorted.toSeq
    }
    val viaMerge = runPos("merge")
    val viaBroadcast = runPos("broadcast")
    assert(viaMerge === viaBroadcast)
    // Spot-check the semantics directly: the equidistant-flank left emits
    // both flanks at d=10, twice (duplicate left row).
    assert(viaMerge.count(t => t._1 == "1" && t._2 == 100 && t._7 == 10) === 4)
    // contig 3 dropped entirely.
    assert(!viaMerge.exists(_._1 == "3"))
    // right starting exactly at pos_end is an overlap.
    assert(viaMerge.filter(_._1 == "2").forall(_._7 == 0))
  }

  test("merge nearest d* survives a right flank several partitions ahead") {
    // Regression (caught by the sf0.001 sweep at 32 shuffle partitions):
    // the phase-1 backward carry fold kept the FIRST-set entry per contig
    // while iterating partitions high->low, so carryNext pinned the
    // FARTHEST later partition's first right-start instead of the nearest
    // one. A left whose nearest right lives 2+ partitions ahead (sparse
    // contig spanning many range partitions, nothing on its left flank)
    // got a wildly inflated d*. 16 partitions over 7 endpoint rows puts
    // every endpoint in its own partition — the fold must pick rs=40, not
    // rs=4000.
    import graft.SharedSpark.spark.implicits._
    val l = Seq(("1", 2, 10)).toDF("contig", "pos_start", "pos_end")
    val r = Seq(("1", 40, 45), ("1", 1000, 1005), ("1", 2000, 2005),
        ("1", 3000, 3005), ("1", 4000, 4005))
      .toDF("contig", "b_start", "b_end")
      .select(col("contig"), col("b_start").as("pos_start"), col("b_end").as("pos_end"))
    withConf("spark.sql.shuffle.partitions", "16") {
      val out = graft.operators.NearestJoinOps.nearestJoin(l, r, "merge")
      val n = out.columns.length
      val got = out.collect().map(x => (x.getInt(4), x.getInt(n - 1))).toSeq
      assert(got === Seq((40, 30)),
        s"expected the nearest right (rs=40, d=30), got $got")
    }
  }

  /** The regime a nearest-join plan took: its probe or merge exec. */
  private def nearestRegime(p: SparkPlan): Option[String] = p match {
    case _: BroadcastProbeExec => Some("broadcast")
    case _: NearestJoinExec => Some("merge")
    case a: AdaptiveSparkPlanExec => nearestRegime(a.executedPlan)
    case other => other.children.flatMap(nearestRegime(_)).headOption
  }

  test("nearest_join TVF in auto mode resolves the regime from logical stats") {
    // r9 VERDICT #1: NearestJoinExec bridges its children through
    // ColumnBridge.internalFrame, whose LogicalRDD stats default to
    // spark.sql.defaultSizeInBytes — an `auto` left for the operator to
    // resolve could never see the right side fit the broadcast budget and
    // silently always dispatched merge. GenomicStrategy now resolves
    // `auto` from the logical children's Catalyst stats before planning.
    randomIntervals(200, 91, "a_key").createOrReplaceTempView("nj_auto_l")
    randomIntervals(50, 92, "b_key").createOrReplaceTempView("nj_auto_r")
    val auto = spark.sql("SELECT * FROM nearest_join('nj_auto_l', 'nj_auto_r')")
    val regime = nearestRegime(auto.queryExecution.executedPlan)
    assert(regime.isDefined, "no nearest exec in the TVF plan")
    assert(regime.get === "broadcast",
      "auto with a broadcast-sized right side must resolve to broadcast at the strategy")
    // An explicit method still passes through untouched.
    val forced = spark.sql("SELECT * FROM nearest_join('nj_auto_l', 'nj_auto_r', 'merge')")
    assert(nearestRegime(forced.queryExecution.executedPlan).get === "merge")
    // And the two regimes agree on the result.
    def sorted(df: DataFrame) =
      df.select(col("a_key"), col("b_key"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(sorted(auto) === sorted(forced))
    assert(sorted(auto).nonEmpty)
  }

  test("nearest_k_join TVF matches the Scala API and stats-gates at planning") {
    randomIntervals(200, 94, "a_key").createOrReplaceTempView("njk_l")
    randomIntervals(50, 95, "b_key").createOrReplaceTempView("njk_r")
    def rows(df: DataFrame) = df.select(col("a_key"), col("b_key"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    def tvf(k: Int) = spark.sql(s"SELECT * FROM nearest_k_join('njk_l', 'njk_r', $k)")
    def method(df: DataFrame) = nearestRegime(df.queryExecution.executedPlan)
    val (l, r) = (spark.table("njk_l"), spark.table("njk_r"))
    val viaSql = rows(tvf(3))
    assert(method(tvf(3)) === Some("broadcast"))
    assert(viaSql === rows(graft.operators.NearestJoinOps.nearestKJoin(l, r, 3)))
    assert(viaSql.nonEmpty)
    // k = 1 degenerates to the nearest join.
    assert(rows(tvf(1)) === rows(spark.sql("SELECT * FROM nearest_join('njk_l', 'njk_r')")))
    // An over-budget right side plans the merge regime and equals the
    // Scala API's merge call (and the broadcast answer above).
    val (overMethod, overBudget) = withConf("spark.graft.rangejoin.maxBroadcastBytes", "1") {
      (method(tvf(3)), rows(tvf(3)))
    }
    assert(overMethod === Some("merge"))
    assert(overBudget === rows(graft.operators.NearestJoinOps.nearestKJoin(l, r, 3, "merge")))
    assert(overBudget === viaSql)
  }

  test("merge k-nearest equals the broadcast ranking probe (incl. sparse contigs)") {
    import graft.SharedSpark.spark.implicits._
    // A contig with fewer than k distinct distances (DENSE_RANK keeps
    // everything), overlap tie sets, duplicate left rows, and a contig
    // with no rights at all — the merge sweep must agree with the
    // broadcast probe on every row.
    val a = randomIntervals(300, 96, "a_key")
      .unionByName(Seq((9001L, "zz", 10, 20), (9001L, "zz", 10, 20),
        (9002L, "empty", 5, 9)).toDF("a_key", "contig", "pos_start", "pos_end"))
    val b = randomIntervals(80, 97, "b_key")
      .unionByName(Seq((8001L, "zz", 100, 110)).toDF("b_key", "contig", "pos_start", "pos_end"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_key"), col("b_key"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    for (k <- Seq(2, 3, 5)) {
      val bc = rows(graft.operators.NearestJoinOps.nearestKJoin(a, b, k, "broadcast"))
      val mg = rows(graft.operators.NearestJoinOps.nearestKJoin(a, b, k, "merge"))
      assert(mg === bc, s"merge k-nearest diverged at k=$k")
      assert(bc.nonEmpty)
      // The sparse contig emitted its single candidate (twice: dup left).
      assert(bc.count(_._1 == 9001L) === 2)
      assert(!bc.exists(_._1 == 9002L))
    }
  }

  test("merge k-nearest runs a fixed job count and leaves no persisted RDDs") {
    // The merge regime's jobs must not depend on the data: a sparse
    // catalogue (features ~10^5 bases apart) costs exactly the jobs of a
    // dense one (a few bases apart) — no data-dependent search rounds —
    // and nothing persisted or checkpointed outlives the call. Counted
    // with a job-group-scoped listener so concurrent suites can't pollute
    // the tally.
    import graft.SharedSpark.spark.implicits._
    val rnd = new Random(98)
    val lefts = Seq.fill(300)(rnd.nextInt(1000000) + 1)
      .map(s => (s.toLong, "1", s, s + 20)).toDF("a_key", "contig", "pos_start", "pos_end")
    def catalogue(step: Int) = (0 until 400).map(i => (i.toLong, "1", i * step + 1, i * step + 10))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    def run(right: DataFrame): (Int, Int) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (n, jobs) = org.apache.spark.sql.graft.TestListeners.jobsIn(spark,
          "nearest-k-merge-jobs") {
        graft.operators.NearestJoinOps.nearestKJoin(lefts, right, 3, "merge").collect().length
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"merge k-nearest left persisted RDDs behind: $leaked")
      (jobs, n)
    }
    val (denseJobs, denseRows) = run(catalogue(step = 5))
    val (sparseJobs, sparseRows) = run(catalogue(step = 100000))
    assert(denseRows > 0 && sparseRows > 0)
    assert(sparseJobs === denseJobs,
      s"sparse catalogue ran $sparseJobs jobs vs $denseJobs on the dense one")
  }

  test("merge k-nearest phase 2 builds the forest on the d_k windows; the right side streams") {
    // Both sides are RDD-built, so neither has a usable size estimate; the
    // windows carry the sweep's own count. Phase 2 must broadcast them and
    // stream the right side into the forest without an exchange, and at a
    // budget of one byte take the bin-range rewrite with the same rows.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def rddFrame(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val a = rddFrame(randomIntervals(300, 87, "a_key"))
    val b = rddFrame(randomIntervals(400, 88, "b_key"))
    def rows(df: DataFrame) = df.select(col("a_key"), col("b_key"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val expected = rows(graft.operators.NearestJoinOps.nearestKJoin(a, b, 3, "broadcast"))
    assert(expected.nonEmpty)
    def forests(p: SparkPlan): Seq[IntervalForestJoinExec] =
      p.collect { case f: IntervalForestJoinExec => f }
    def has(p: SparkPlan, name: String): Boolean = p.output.exists(_.name == name)
    withConf("spark.sql.adaptive.enabled", "false") {
      val near = graft.operators.NearestJoinOps.nearestKJoin(a, b, 3, "merge")
      val plan = physical(near)
      val found = forests(plan)
      assert(found.length === 1, s"phase 2 must plan one forest join:\n$plan")
      val forest = found.head
      val (build, stream) =
        if (forest.buildLeft) (forest.left, forest.right) else (forest.right, forest.left)
      assert(has(build, "_dk"), s"the forest must build on the d_k windows:\n$plan")
      assert(stream.collect { case s if s.children.isEmpty && has(s, "b_key") => s }.nonEmpty &&
        stream.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the right side must reach the forest without an exchange:\n$plan")
      assert(rows(near) === expected)
      withConf("spark.graft.rangejoin.maxBroadcastBytes", "1") {
        val over = graft.operators.NearestJoinOps.nearestKJoin(a, b, 3, "merge")
        val overPlan = physical(over)
        assert(forests(overPlan).isEmpty &&
          overPlan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty,
          s"over budget the windows must take the bin-range rewrite:\n$overPlan")
        assert(rows(over) === expected)
      }
    }
  }

  test("merge regime carries the -io/-id/-iu/-D variants (equals broadcast probe)") {
    import graft.SharedSpark.spark.implicits._
    // Duplicate left rows, a one-sided contig (every right strictly
    // downstream — the upstream direction must emit nothing for its
    // candidate-less triples), and an empty contig.
    val a = randomIntervals(250, 31, "a_key")
      .unionByName(Seq((9001L, "zz", 10, 20), (9001L, "zz", 10, 20),
        (9002L, "empty", 5, 9)).toDF("a_key", "contig", "pos_start", "pos_end"))
    val b = randomIntervals(70, 32, "b_key")
      .unionByName(Seq((8001L, "zz", 100, 110)).toDF("b_key", "contig", "pos_start", "pos_end"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_key"), col("b_key"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val combos = Seq(
      (2, true, "both", true), // the oracle twin (closest -io -D ref)
      (2, false, "upstream", true), // closest -id -D ref
      (2, true, "downstream", false), // closest -io -iu
      (1, true, "both", false), // k=1 must NOT shortcut to the base merge
      (3, false, "downstream", true))
    for ((k, io, dirn, sg) <- combos) {
      val bc = rows(graft.operators.NearestJoinOps
        .nearestKJoin(a, b, k, io, dirn, sg, method = "broadcast"))
      val mg = rows(graft.operators.NearestJoinOps
        .mergeNearestKJoin(a, b, k, io, dirn, sg))
      assert(mg === bc, s"merge variant diverged at k=$k io=$io dir=$dirn signed=$sg")
      assert(bc.nonEmpty, s"degenerate fixture at k=$k io=$io dir=$dirn signed=$sg")
    }
    // And the upstream direction on the one-sided contig is empty on
    // BOTH regimes (not just one of them).
    val up = graft.operators.NearestJoinOps
      .mergeNearestKJoin(a.filter(col("contig") === "zz"), b, 2,
        ignoreOverlaps = false, direction = "upstream", signed = false)
    assert(up.count() === 0)
  }

  test("nearest_join TVF with the same view on both sides dedups exprIds") {
    // r9 ADVICE: custom BinaryNodes don't get the analyzer's Join
    // dedupRight, so nearest_join('v','v') carried duplicate attribute
    // IDs. NearestJoinNode.sides wraps the right child in fresh Aliases.
    randomIntervals(60, 93, "k").createOrReplaceTempView("nj_self_v")
    val df = spark.sql("SELECT * FROM nearest_join('nj_self_v', 'nj_self_v')")
    val out = df.queryExecution.analyzed.output
    assert(out.map(_.exprId).distinct.length === out.length,
      s"duplicate exprIds in nearest_join self-join output: $out")
    // Self-join semantics: every interval overlaps itself, so every
    // emitted pair is at distance 0 and each left row appears.
    val rows = df.collect()
    assert(rows.length >= 60)
    val distIdx = out.length - 1
    assert(rows.forall(_.getInt(distIdx) == 0))
  }

  test("nearest_join TVF prunes unused pass-through columns down to the scan") {
    // r9 VERDICT stretch #7: the node pinned references = all child
    // outputs, so a SELECT a_key, distance rode every wide column through
    // the join. NearestJoinPruneRule pushes a Project under each side.
    import graft.SharedSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("njprune").toFile.getAbsolutePath
    Seq((1L, "1", 10, 20, "wideL")).toDF("a_key", "contig", "pos_start", "pos_end", "wide_l")
      .write.mode("overwrite").parquet(s"$dir/l")
    Seq((5L, "1", 15, 25, "wideR")).toDF("b_key", "contig", "pos_start", "pos_end", "wide_r")
      .write.mode("overwrite").parquet(s"$dir/r")
    spark.read.parquet(s"$dir/l").createOrReplaceTempView("njp_l")
    spark.read.parquet(s"$dir/r").createOrReplaceTempView("njp_r")
    val df = spark.sql("SELECT a_key, distance FROM nearest_join('njp_l', 'njp_r')")
    // Logical: the node's children no longer carry the wide columns.
    val node = df.queryExecution.optimizedPlan.collectFirst {
      case n: NearestJoinNode => n
    }.getOrElse(fail("no NearestJoinNode in the optimized plan"))
    assert(!node.left.output.map(_.name).contains("wide_l"),
      s"left side not pruned: ${node.left.output}")
    assert(!node.right.output.map(_.name).contains("wide_r"),
      s"right side not pruned: ${node.right.output}")
    // Result is unaffected: (10,20) overlaps (15,25) -> distance 0.
    assert(df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 0)))
    // Physical: every parquet scan reads only the needed columns.
    def scans(p: SparkPlan): Seq[Set[String]] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(s.requiredSchema.fieldNames.toSet)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(scans)
    }
    val readSets = scans(df.queryExecution.executedPlan)
    assert(readSets.nonEmpty)
    assert(readSets.forall(s => !s.contains("wide_l") && !s.contains("wide_r")),
      s"a scan still reads a wide column: $readSets")
  }

  test("interval queries self-pin join confs (scrambled-conf invariance)") {
    // IntervalJoinStrategy reads spark.graft.rangejoin.* at planning
    // time and queries() is a Map with unspecified iteration order — a
    // query that forgets joinConf inherits whatever the previous lambda
    // (or the user) left in the session. Invariant: every interval-join
    // query produces identical results no matter how the result-affecting
    // confs are scrambled beforehand.
    val keys = Seq("spark.graft.rangejoin.method", "spark.graft.rangejoin.maxGap",
      "spark.graft.rangejoin.minOverlap")
    val scramble = Map("spark.graft.rangejoin.method" -> "binrange",
      "spark.graft.rangejoin.maxGap" -> "77",
      "spark.graft.rangejoin.minOverlap" -> "25")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // The whole interval_* family: every query (joins, set algebra,
      // liftover, nearest) must be IMMUNE via the plan-embedded
      // IntervalOverlaps predicate / explicit operator parameters — no
      // query writes session confs, so scrambled confs must not change
      // results.
      val names = graft.queries.IntervalQueries.queries.keys.toSeq.sorted
        .filter(_.startsWith("interval_"))
      for (name <- names) {
        val q = graft.queries.IntervalQueries.queries(name)
        keys.foreach(spark.conf.unset)
        val want = q(spark, sf0001).collect().map(_.toString).sorted.toSeq
        scramble.foreach { case (k, v) => spark.conf.set(k, v) }
        val got = q(spark, sf0001).collect().map(_.toString).sorted.toSeq
        assert(got === want, s"query $name changed results under scrambled confs")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interval queries with conflicting plan-embedded semantics run concurrently in one session") {
    // r10 VERDICT #3: per-query semantics used to be pinned by MUTATING
    // session conf (joinConf) — spec-safe for the serial harness but racy
    // when a user runs two interval queries concurrently in one session.
    // Semantics now ride the IntervalOverlaps predicate: three queries
    // with CONFLICTING minOverlap/maxGap/method, interleaved on separate
    // threads, must each keep their own results with zero conf writes.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.functions.IntervalOverlaps
    val a = randomIntervals(400, 71, "a_key")
    val b = randomIntervals(80, 72, "b_key")
    def q(minOverlap: Int, maxGap: Int, method: String): DataFrame =
      a.join(b, a("contig") === b("contig") && IntervalOverlaps.of(
        a("pos_start"), a("pos_end"), b("pos_start"), b("pos_end"),
        minOverlap, maxGap, method))
    val shapes = Seq((1, 5, ""), (10, 0, ""), (1, 0, "binrange"))
    val want = shapes.map { case (m, g, meth) => collectSorted(q(m, g, meth)) }
    assert(want(0) !== want(1), "shapes must disagree for the race to be observable")
    assert(want.forall(_.nonEmpty))
    val futures = (1 to 4).flatMap { _ =>
      shapes.zipWithIndex.map { case ((m, g, meth), i) =>
        Future((i, collectSorted(q(m, g, meth))))
      }
    }
    Await.result(Future.sequence(futures), 180.seconds).foreach { case (i, got) =>
      assert(got === want(i), s"concurrent run of shape $i diverged")
    }
  }

  test("runtime stats-lie guard: stats-decided broadcast over budget fails with guidance") {
    // Catalyst can under-estimate a build side by orders of magnitude
    // (selective-filter selectivity guesses); broadcasting multi-GB to a
    // 1000-executor cluster must fail fast instead. Simulate the lie by
    // shrinking the slack to ~0: the AUTO decision still says broadcast
    // (stats under budget), but the collected bytes exceed budget*slack.
    val a = randomIntervals(300, 90, "a_key")
    val b = randomIntervals(50, 91, "b_key")
    val e = intercept[Exception] {
      withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9") {
        joined(a, b).count()
      }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("maxBroadcastBytes")),
      s"expected the budget guard's guidance, got: ${messages(e).mkString(" | ")}")
    // A user hint stands the guard down even with zero slack (the hint
    // takes responsibility, standard Spark semantics)...
    withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9") {
      assert(a.join(broadcast(b),
        a("contig") === b("contig") &&
        a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end")).count() > 0)
    }
    // ...and at the default slack the auto path runs fine.
    assert(joined(a, b).count() > 0)
    // The count join and the nearest join's estimate-chosen broadcast are
    // held to the same guard: the Scala API in auto and both TVFs.
    import graft.operators.NearestJoinOps
    a.createOrReplaceTempView("lie_a")
    b.createOrReplaceTempView("lie_b")
    def counts(r: DataFrame) =
      a.join(r, a("contig") === r("contig") &&
        a("pos_end") >= r("pos_start") && a("pos_start") <= r("pos_end"))
        .groupBy(col("b_key")).agg(count(lit(1)).as("n"))
    val guarded = Seq[(String, () => Any)](
      "interval-count-join" -> (() => counts(b).collect()),
      "nearest-join" -> (() => NearestJoinOps.nearestKJoin(a, b, 2).collect()),
      "nearest-join" -> (() => spark.sql("SELECT * FROM nearest_join('lie_a', 'lie_b')").collect()),
      "nearest-join" -> (() =>
        spark.sql("SELECT * FROM nearest_k_join('lie_a', 'lie_b', 2)").collect()))
    for (((guard, run), i) <- guarded.zipWithIndex) {
      val e = intercept[Exception] {
        withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9")(run())
      }
      assert(messages(e).exists(m => m.contains(guard) && m.contains("maxBroadcastBytes")),
        s"case $i expected the $guard guard, got: ${messages(e).mkString(" | ")}")
    }
    // A hint or a pinned broadcast method stands each of them down.
    withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9") {
      assert(counts(broadcast(b)).collect().nonEmpty)
      assert(NearestJoinOps.nearestKJoin(a, b, 2, "broadcast").count() > 0)
      assert(spark.sql("SELECT * FROM nearest_join('lie_a', 'lie_b', 'broadcast')").count() > 0)
    }
  }

  test("runtime stats-lie guard also covers the FullOuter broadcast branch") {
    // FullOuter does its own build-side collect (null-key rows must be
    // preserved), separate from the shared forest build — r7 ADVICE found
    // the guard missing there, so a stats lie would broadcast unbounded.
    val a = randomIntervals(300, 92, "a_key")
    val b = randomIntervals(50, 93, "b_key")
    val cond = a("contig") === b("contig") &&
      a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end")
    val e = intercept[Exception] {
      withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9") {
        a.join(b, cond, "full_outer").count()
      }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("maxBroadcastBytes")),
      s"expected the budget guard's guidance, got: ${messages(e).mkString(" | ")}")
    // Hint stands it down on full outer too.
    withConf("spark.graft.rangejoin.buildBytesSlack", "1e-9") {
      assert(a.join(broadcast(b), cond, "full_outer").count() > 0)
    }
  }

  test("binrange under AQE: a hot contig's skewed partition is split at runtime") {
    // The 100x-scale claim the bin-range design makes (r6 VERDICT
    // stretch): because the rewrite is a pure Catalyst equi-join on
    // (contig, bin), AQE's skew-join optimization applies to it
    // unmodified — a hot contig that lands 95% of rows in one shuffle
    // partition is split into parallel chunks at runtime, which a
    // hand-scheduled RDD cogroup would never get. Thresholds are scaled
    // down so the test corpus trips the same machinery a hot chromosome
    // would at cluster scale.
    import graft.SharedSpark.spark.implicits._
    val rnd = new Random(77)
    val a = (0 until 6000).map { i =>
      val c = if (i % 20 != 0) "1" else (2 + i % 3).toString
      val s = rnd.nextInt(200) + 1
      (i.toLong, c, s, s + rnd.nextInt(30))
    }.toDF("a_key", "contig", "pos_start", "pos_end")
    val b = (0 until 150).map { i =>
      val s = rnd.nextInt(200) + 1
      ((i + 100000).toLong, (1 + i % 4).toString, s, s + rnd.nextInt(30))
    }.toDF("b_key", "contig", "pos_start", "pos_end")
    val confs = Seq(
      "spark.graft.rangejoin.method" -> "binrange",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // 8k sits between the probe side's hot partition (~3 KB) and the
      // stream side's (~100 KB): only one side reads as skewed —
      // OptimizeSkewedJoin skips partitions skewed on BOTH sides.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k")
    def withConfs[T](cs: Seq[(String, String)])(f: => T): T = cs match {
      case Nil => f
      case (k, v) +: rest => withConf(k, v)(withConfs(rest)(f))
    }
    val (n, planText) = withConfs(confs) {
      val df = joined(a, b)
      // collect() (not count()) so the AQE final plan belongs to THIS
      // queryExecution — count() plans a separate aggregate query.
      val n = df.collect().length
      (n, physical(df).toString)
    }
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      joined(a, b).count()
    }
    assert(n === stock, "skew-split plan must not change the result")
    assert(planText.contains("skew=true") || planText.contains("isSkewJoin=true"),
      s"expected AQE to mark the hot-contig join skewed:\n$planText")
  }

  test("binrange outer dedups pairs spanning many bins (tiny binWidth)") {
    val a = randomIntervals(200, 65, "a_key")
    val b = randomIntervals(30, 66, "b_key")
    val stock = withConf("spark.graft.rangejoin.enabled", "false") {
      collectAllSorted(typedJoin(a, b, "left_outer"))
    }
    val got = withConf("spark.graft.rangejoin.method", "binrange") {
      withConf("spark.graft.rangejoin.binWidth", "7") {
        collectAllSorted(typedJoin(a, b, "left_outer"))
      }
    }
    assert(got === stock)
  }
}
