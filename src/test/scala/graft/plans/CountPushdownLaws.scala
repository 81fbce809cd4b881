package graft.plans

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._

/** Generative law for the count/sum/min-max pushdown
  * ([[IntervalCountPushdownRule]]): on ANY interval multiset — duplicate
  * rows, duplicate coordinates, contigs on one side only, nullable
  * measures including all-null groups, empty sides — the rewritten plan
  * must produce the exact row multiset of the general join+aggregate,
  * for BOTH grouping directions. The pushdown rewrites user queries
  * transparently (no API opt-in), so a generative equivalence law is the
  * right guard: the deterministic spec fixtures undersample coordinate
  * collisions at rank boundaries (equal starts/ends at the binary-search
  * pivots) by construction. */
object CountPushdownLaws extends Properties("CountPushdown") {

  // Each Spark sample runs four aggregations (2 directions x on/off).
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private def spark = graft.SharedSpark.spark

  private case class Iv(key: Long, contig: String, s: Int, e: Int, m: Option[Long])

  private def genIvs(keyBase: Long): Gen[List[Iv]] = for {
    n <- Gen.chooseNum(0, 60)
    ivs <- Gen.listOfN(n, for {
      c <- Gen.frequency(4 -> Gen.oneOf("c0", "c1"), 1 -> Gen.const("c2"))
      // Narrow coordinate range -> frequent equal starts/ends (the rank
      // boundaries the binary searches pivot on).
      s <- Gen.chooseNum(1, 60)
      len <- Gen.chooseNum(0, 20)
      k <- Gen.chooseNum(0L, 10L)
      m <- Gen.frequency(3 -> Gen.chooseNum(-50L, 50L).map(Some(_)), 1 -> Gen.const(None))
    } yield Iv(keyBase + k, c, s, s + len, m))
  } yield ivs

  property("pushdown == general join+aggregate (count/sum/min/max, both directions)") =
    law(binRange = false)

  /** The same equivalence on the SHUFFLE path: the method pinned binrange
    * in the plan, so the rewrite lands IntervalBinCountJoinExec — the
    * per-(key,bin) first-intersection-bin partials must merge to the
    * general path's aggregates on ANY multiset. A narrow binWidth (7 vs
    * coordinates up to ~80) makes most intervals span several bins, so
    * the case split (first replica bin vs later) is exercised densely. */
  property("binrange pushdown == general join+aggregate (count/sum/min/max, both directions)") = {
    val old = spark.conf.getOption("spark.graft.rangejoin.binWidth")
    spark.conf.set("spark.graft.rangejoin.binWidth", "7")
    try law(binRange = true)
    finally old match {
      case Some(v) => spark.conf.set("spark.graft.rangejoin.binWidth", v)
      case None => spark.conf.unset("spark.graft.rangejoin.binWidth")
    }
  }

  /** One index of intervals with two nullable sums, queries over it, and
    * a bin width. Coordinates run negative too (bins are floor-divided). */
  private case class CoreCase(ivs: List[(Int, Int, Option[Long], Option[Long])],
      queries: List[(Int, Int)], binWidth: Int)

  private val genCore: Gen[CoreCase] = for {
    n <- Gen.chooseNum(0, 40)
    ivs <- Gen.listOfN(n, for {
      s <- Gen.chooseNum(-20, 60)
      len <- Gen.chooseNum(0, 25)
      m1 <- Gen.option(Gen.chooseNum(-50L, 50L))
      m2 <- Gen.frequency(1 -> Gen.some(Gen.const(Long.MaxValue)), 3 -> Gen.const(None))
    } yield (s, s + len, m1, m2))
    nq <- Gen.chooseNum(1, 20)
    queries <- Gen.listOfN(nq, for {
      s <- Gen.chooseNum(-25, 70)
      len <- Gen.chooseNum(0, 30)
    } yield (s, s + len))
    w <- Gen.chooseNum(1, 15)
  } yield CoreCase(ivs, queries, w)

  /** The shared count core ([[CountRankIndex]]) without Spark. Each bin's
    * index holds the intervals replicated into it; a query's probe in one
    * of its bins must count the overlapping intervals whose FIRST
    * intersection with it falls in that bin, and give each sum's partial
    * over them (NULL iff none is non-null). Over the query's bins, the
    * counts and partials must add up to the one-bin probe of the whole
    * index: its overlap count and sums. The second sum is all-null or
    * Long.MaxValue, so its partials wrap. */
  property("rank index probe == brute-force first-intersection-bin model") =
    forAll(Gen.listOfN(10, genCore)) { cases =>
      cases.forall { case CoreCase(ivs, queries, w) =>
        def index(rows: List[(Int, Int, Option[Long], Option[Long])]) = CountRankIndex.build(
          rows.map(_._1).toArray, rows.map(_._2).toArray,
          // A null's slot holds a value the index must ignore.
          Array(rows.map(_._3.getOrElse(7L)).toArray, rows.map(_._4.getOrElse(7L)).toArray),
          Array(rows.map(_._3.isDefined).toArray, rows.map(_._4.isDefined).toArray))
        def bin(x: Int): Long = Math.floorDiv(x.toLong, w.toLong)
        /** (count, partials) of a probe filling `out`, None for NULL. */
        def probe(run: InternalRow => Long) = {
          val out = new GenericInternalRow(3)
          val c = run(out)
          (c, if (c <= 0L) Seq(None, None)
            else Seq(1, 2).map(i => if (out.isNullAt(i)) None else Some(out.getLong(i))))
        }
        def model(rows: List[(Int, Int, Option[Long], Option[Long])]) = {
          val ms = Seq(rows.flatMap(_._3), rows.flatMap(_._4))
          (rows.size.toLong, if (rows.isEmpty) Seq(None, None)
            else ms.map(m => if (m.isEmpty) None else Some(m.sum)))
        }
        def add(a: Option[Long], b: Option[Long]) =
          if (a.isEmpty) b else if (b.isEmpty) a else Some(a.get + b.get)
        val whole = index(ivs)
        queries.forall { case q @ (qs, qe) =>
          val overlapping = ivs.filter(iv => iv._1 <= qe && iv._2 >= qs)
          val perBin = (bin(qs) to bin(qe)).map { b =>
            val lo = b * w
            val inBin = ivs.filter(iv => bin(iv._1) <= b && b <= bin(iv._2))
            val got = probe(index(inBin).probe(qs, qe, lo, lo + w - 1, _))
            val want = model(overlapping.filter(iv => bin(math.max(qs, iv._1)) == b))
            assert(got == want, s"bin $b of $q (width $w) over $ivs")
            got
          }
          val total = perBin.foldLeft((0L, Seq[Option[Long]](None, None))) {
            case ((c, ps), (bc, bps)) => (c + bc, ps.zip(bps).map { case (x, y) => add(x, y) })
          }
          val unbinned = probe(whole.probe(qs, qe, _))
          unbinned == model(overlapping) && total == unbinned
        }
      }
    }

  private def law(binRange: Boolean) =
    forAll(genIvs(0L), genIvs(1000L)) { (ls, rs) =>
      import graft.SharedSpark.spark.implicits._
      graft.Graft.ensure(spark)
      val a = ls.map(iv => (iv.key, iv.contig, iv.s, iv.e, iv.m))
        .toDF("a_key", "contig", "pos_start", "pos_end", "measure")
      val b = rs.map(iv => (iv.key, iv.contig, iv.s, iv.e, iv.m))
        .toDF("b_key", "contig", "pos_start", "pos_end", "bm")
      def joined =
        if (binRange) a.join(b, a("contig") === b("contig") &&
          graft.functions.IntervalOverlaps.of(a("pos_start"), a("pos_end"),
            b("pos_start"), b("pos_end"), method = "binrange"))
        else a.join(b, a("contig") === b("contig") &&
          a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end"))
      // Group by the build side with a cross-side nullable sum, a
      // same-side sum, min/max, a null-aware COUNT(col) on each side, and
      // AVG on each side (incl. the nullable cross measure); then by the
      // stream side with the mirrored shapes. A third, GLOBAL aggregate
      // exercises the empty-result edge: zero overlapping pairs must give
      // COUNT = 0 (not NULL) and NULL sums/avgs, exactly like the general
      // path.
      def q1 = joined.groupBy(col("b_key")).agg(
        count(lit(1)).as("n"), sum(a("measure")).as("xm"),
        sum(b("pos_end")).as("sm"), min(b("pos_start")).as("lo"),
        max(b("pos_end")).as("hi"), count(a("measure")).as("xc"),
        count(b("bm")).as("sc"), avg(b("pos_end")).as("sa"),
        avg(a("measure")).as("xa"))
      def q2 = joined.groupBy(col("a_key")).agg(
        count(lit(1)).as("n"), sum(b("bm")).as("xm"),
        sum(a("pos_start")).as("sm"), count(b("bm")).as("xc"),
        avg(a("pos_start")).as("sa"), avg(b("bm")).as("xa"))
      def q3 = joined.agg(
        count(lit(1)).as("n"), sum(a("measure")).as("xm"),
        count(a("measure")).as("xc"), avg(b("pos_end")).as("sa"))
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i))).map(_.toSeq)
          .sortBy(_.toString).toSeq
      def run(push: Boolean): (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Seq[Any]]) = {
        val old = spark.conf.getOption("spark.graft.rangejoin.countPushdown")
        spark.conf.set("spark.graft.rangejoin.countPushdown", push.toString)
        try {
          // Vacuity guard: the law must compare the REWRITTEN plan against
          // the general one, not general vs general (a silently-unfired
          // rewrite would pass trivially — the .count()-pruning trap).
          // An empty input side collapses the Join via
          // PropagateEmptyRelation before any rule sees it — skip there.
          if (ls.nonEmpty && rs.nonEmpty) {
            val execName = if (binRange) "IntervalBinCountJoin" else "IntervalCountJoin"
            val fired = q1.queryExecution.executedPlan.toString.contains(execName) &&
              q2.queryExecution.executedPlan.toString.contains(execName) &&
              q3.queryExecution.executedPlan.toString.contains(execName)
            assert(fired == push, s"pushdown fired=$fired with conf=$push (binRange=$binRange)")
          }
          (rows(q1), rows(q2), rows(q3))
        } finally old match {
          case Some(v) => spark.conf.set("spark.graft.rangejoin.countPushdown", v)
          case None => spark.conf.unset("spark.graft.rangejoin.countPushdown")
        }
      }
      run(push = true) == run(push = false)
    }
}
