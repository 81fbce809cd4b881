package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** Generative laws for the nearest joins against brute force and across
  * regimes (r8 VERDICT stretch #8): on ANY interval multiset — duplicate
  * lefts, contigs with no rights, dense overlap runs, equidistant flanks
  * — the distributed merge regime (endpoint sweep for d_k + residual
  * interval join) and the broadcast forest probe must emit the exact
  * pair multiset of the brute-force model: same pairs, same ties, same
  * distances. Random inputs reach the sweep's tag-ordering subtleties
  * (right starting exactly at a left end, partition-boundary carries)
  * that the hand-picked fixtures in IntervalJoinSpec undersample. */
object NearestJoinLaws extends Properties("NearestJoin") {

  // Each sample runs several Spark jobs (sweep summaries + two joins):
  // fewer, larger samples.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private def spark = graft.SharedSpark.spark

  private case class Iv(key: Long, contig: String, s: Int, e: Int)

  private def genIvs(keyBase: Long): Gen[List[Iv]] = for {
    n <- Gen.chooseNum(0, 80)
    ivs <- Gen.listOfN(n, for {
      // c3 appears on one side only with positive probability — the
      // absent-contig drop path.
      c <- Gen.frequency(4 -> Gen.oneOf("c0", "c1", "c2"), 1 -> Gen.const("c3"))
      s <- Gen.chooseNum(1, 400)
      len <- Gen.frequency(5 -> Gen.chooseNum(0, 15), 1 -> Gen.chooseNum(80, 200))
      k <- Gen.chooseNum(0L, 20L) // small key range -> duplicate rows
    } yield Iv(keyBase + k, c, s, s + len))
  } yield ivs

  private def frames(ls: List[Iv], rs: List[Iv]) = {
    import graft.SharedSpark.spark.implicits._
    (ls.map(iv => (iv.key, iv.contig, iv.s, iv.e)).toDF("a_key", "contig", "pos_start", "pos_end"),
      rs.map(iv => (iv.key, iv.contig, iv.s, iv.e)).toDF("b_key", "contig", "pos_start", "pos_end"))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.select("a_key", "b_key", "distance")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
      .sorted.toSeq

  /** Brute-force model of the full `closest -k -io/-id/-iu/-D ref`
    * surface: classify each same-contig pair (upstream/-1, overlap/0,
    * downstream/+1 of the LEFT row), drop disabled classes, keep the
    * pairs whose unsigned distance is among the k smallest distinct ones
    * for that left ROW (duplicate left rows each emit their set —
    * multiset semantics), sign output from class. */
  private def model(ls: List[Iv], rs: List[Iv], k: Int, io: Boolean = false,
      dir: String = "both", signed: Boolean = false): Seq[(Long, Long, Int)] =
    ls.flatMap { a =>
      val cands = rs.filter(_.contig == a.contig).flatMap { b =>
        val d = math.max(math.max(b.s - a.e, a.s - b.e), 0)
        val side = if (d == 0) 0 else if (b.e < a.s) -1 else 1
        val keepClass = (side != 0 || !io) &&
          (side == 0 || dir == "both" ||
            (dir == "upstream" && side < 0) || (dir == "downstream" && side > 0))
        if (keepClass) Some((b.key, d, side)) else None
      }
      val kept = cands.map(_._2).distinct.sorted.take(k).toSet
      cands.collect { case (bk, d, side) if kept(d) =>
        (a.key, bk, if (signed && side < 0) -d else d)
      }
    }.sorted

  private def withPartitions[T](n: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  private val flagCombos = for {
    io <- Seq(false, true)
    dir <- Seq("both", "upstream", "downstream")
    signed <- Seq(false, true)
  } yield (io, dir, signed)

  property("merge regime == broadcast regime (pairs, ties, distances)") =
    forAll(genIvs(0L), genIvs(1000L)) { (ls, rs) =>
      val (l, r) = frames(ls, rs)
      // Run the merge regime at a partition count that dwarfs the sample
      // (few endpoint rows per range partition) — the carry folds only do
      // real work across partition boundaries, and the suite's default 4
      // partitions undersampled them (the backward-carry keep-first bug
      // survived this law until the sf0.001 sweep hit it).
      withPartitions(24)(pairs(NearestJoinOps.nearestJoin(l, r, "merge"))) ==
        pairs(NearestJoinOps.nearestJoin(l, r, "broadcast"))
    }

  property("k-nearest == brute-force dense-rank; k=1 == nearest") =
    forAll(genIvs(0L), genIvs(1000L), Gen.chooseNum(1, 4)) { (ls, rs, k) =>
      val (l, r) = frames(ls, rs)
      pairs(NearestJoinOps.nearestKJoin(l, r, k)) == model(ls, rs, k) &&
        pairs(NearestJoinOps.nearestKJoin(l, r, 1)) ==
          pairs(NearestJoinOps.nearestJoin(l, r, "broadcast"))
    }

  property("directional/signed k-nearest == brute-force model") =
    forAll(genIvs(0L), genIvs(1000L), Gen.chooseNum(1, 3),
      Gen.oneOf(true, false), Gen.oneOf("both", "upstream", "downstream"),
      Gen.oneOf(true, false)) { (ls, rs, k, io, dir, signed) =>
      val (l, r) = frames(ls, rs)
      pairs(NearestJoinOps.nearestKJoin(l, r, k, io, dir, signed)) ==
        model(ls, rs, k, io, dir, signed)
    }

  // The merge regime called directly, not through the size gate (which
  // sends these small catalogues to the broadcast probe): every flag
  // combination at one range partition (no carries) and at 24 (a few
  // endpoints per partition — the carry folds do the work). No
  // shrinking: one sample is 24 merge calls, and shrinking would take k
  // outside 1..4.
  property("merge regime == brute-force model (k 1..4, all flags, 1 and 24 partitions)") =
    forAllNoShrink(genIvs(0L), genIvs(1000L), Gen.chooseNum(1, 4)) { (ls, rs, k) =>
      val (l, r) = frames(ls, rs)
      Seq(1, 24).forall { parts =>
        withPartitions(parts) {
          flagCombos.forall { case (io, dir, signed) =>
            pairs(NearestJoinOps.mergeNearestKJoin(l, r, k, io, dir, signed)) ==
              model(ls, rs, k, io, dir, signed)
          }
        }
      }
    }

  // Contig "f" spreads five short rights and three lefts over 24 range
  // partitions (about one endpoint each), so a left's k-th flank
  // neighbour lives several partitions away and every partition between
  // holds fewer than k of that contig's ends or starts — the carries
  // must fold k-sets over all of them, not take the nearest partition's
  // set. Contig "g" holds fewer than k distinct distances: equidistant
  // flanks (both at 10) plus one overlap, under a duplicated left row.
  private val fixtureL = List(Iv(1, "f", 500, 510), Iv(2, "f", 1, 3),
    Iv(3, "f", 250, 260), Iv(4, "g", 100, 110), Iv(4, "g", 100, 110))
  private val fixtureR = List(Iv(11, "f", 10, 12), Iv(12, "f", 100, 102),
    Iv(13, "f", 200, 202), Iv(14, "f", 300, 302), Iv(15, "f", 400, 402),
    Iv(21, "g", 80, 90), Iv(22, "g", 120, 130), Iv(23, "g", 105, 106))

  property("merge regime carries k-sets across range partitions (fixtures)") =
    forAllNoShrink(Gen.chooseNum(1, 4), Gen.oneOf(flagCombos)) { case (k, (io, dir, signed)) =>
      val (l, r) = frames(fixtureL, fixtureR)
      withPartitions(24)(pairs(NearestJoinOps.mergeNearestKJoin(l, r, k, io, dir, signed))) ==
        model(fixtureL, fixtureR, k, io, dir, signed)
    }
}
