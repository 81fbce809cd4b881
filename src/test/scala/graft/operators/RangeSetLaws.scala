package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Generative law for the seeded prefix-scan merge: any interval multiset
  * under any input partitioning must merge identically to the obvious
  * sequential reference (sort by start, extend while
  * `start <= runningMaxEnd + 1 + maxGap`). Random inputs reach the
  * cross-partition stitching paths (boundary chains, seed bridging) that
  * fixed fixtures undersample. */
object RangeSetLaws extends Properties("RangeSet") {

  // Spark jobs per sample are not free: fewer, larger samples.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private def spark = graft.SharedSpark.spark

  private case class Iv(contig: String, s: Int, e: Int)

  private val genIvs: Gen[List[Iv]] = for {
    n <- Gen.chooseNum(0, 120)
    ivs <- Gen.listOfN(n, for {
      c <- Gen.oneOf("c0", "c1", "c2")
      s <- Gen.chooseNum(1, 300)
      len <- Gen.frequency(5 -> Gen.chooseNum(0, 20), 1 -> Gen.chooseNum(100, 250))
    } yield Iv(c, s, s + len))
  } yield ivs

  private def referenceMerge(ivs: List[Iv], maxGap: Int): Set[(String, Int, Int, Long)] =
    ivs.groupBy(_.contig).flatMap { case (c, rs) =>
      val sorted = rs.map(iv => (iv.s, iv.e)).sortBy(identity)
      val acc = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      sorted.foreach { case (s, e) =>
        acc.lastOption match {
          case Some((ls, le, ln)) if s.toLong <= le.toLong + 1 + maxGap =>
            acc(acc.length - 1) = (ls, math.max(le, e), ln + 1)
          case _ => acc += ((s, e, 1L))
        }
      }
      acc.map(t => (c, t._1, t._2, t._3))
    }.toSet

  // Built from an RDD, the input's size estimate is unknown, so merge
  // sweeps it over `nPart` range partitions (a local frame's small
  // estimate would give one).
  property("merge == sequential reference under any partitioning") =
    forAll(genIvs, Gen.oneOf(0, 1, 5), Gen.oneOf(1, 3, 8, 24)) { (ivs, maxGap, nPart) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          ivs.map(iv => Row(iv.contig, iv.s, iv.e)), nPart),
        StructType(Seq(StructField("contig", StringType), StructField("pos_start", IntegerType),
          StructField("pos_end", IntegerType))))
      val got = graft.SharedSpark.withShufflePartitions(nPart) {
        RangeSetOps.merge(df, maxGap).collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
      }
      got == referenceMerge(ivs, maxGap)
    }

  property("subtract fragments are disjoint from b and tile a exactly") =
    forAll(genIvs.suchThat(_.nonEmpty), genIvs) { (as, bs) =>
      import graft.SharedSpark.spark.implicits._
      val a = as.zipWithIndex.map { case (iv, i) => (i.toLong, iv.contig, iv.s, iv.e) }
        .toDF("a_key", "contig", "pos_start", "pos_end")
      val b = bs.map(iv => (iv.contig, iv.s, iv.e)).toDF("contig", "pos_start", "pos_end")
      val bRuns = referenceMerge(bs, 0)
      val frags = RangeSetOps.subtract(a, b, "a_key").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      val disjoint = frags.forall { case (_, c, fs, fe) =>
        !bRuns.exists { case (bc, rs, re, _) => bc == c && fe >= rs && fs <= re } }
      val fragLen = frags.groupBy(_._1).view.mapValues(_.map(f => f._4 - f._3 + 1L).sum)
      val tiles = as.zipWithIndex.forall { case (iv, i) =>
        val covered = bRuns.toList.collect {
          case (bc, rs, re, _) if bc == iv.contig && iv.e >= rs && iv.s <= re =>
            math.min(iv.e, re) - math.max(iv.s, rs) + 1L }.sum
        fragLen.getOrElse(i.toLong, 0L) + covered == (iv.e - iv.s + 1L)
      }
      disjoint && tiles
    }

  property("liftover mapped+unmapped pieces tile every interval") =
    forAll(genIvs.suchThat(_.nonEmpty), genIvs.suchThat(_.nonEmpty)) { (as, bs) =>
      import graft.SharedSpark.spark.implicits._
      val a = as.zipWithIndex.map { case (iv, i) => (i.toLong, iv.contig, iv.s, iv.e) }
        .toDF("a_key", "contig", "pos_start", "pos_end")
      // chain blocks = merged b (disjoint by construction) with a
      // deterministic per-block offset and dest contig
      val chain = referenceMerge(bs, 0).toSeq
        .map { case (c, s, e, _) => (c, s, e, "L" + c, (s % 7) * 3) }
        .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset")
      val out = RangeSetOps.liftover(a, chain, "a_key").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getInt(4)))
      val lenByKey = out.groupBy(_._1).view
        .mapValues(_.map(p => p._4 - p._3 + 1L).sum).toMap
      as.zipWithIndex.forall { case (iv, i) =>
        lenByKey.getOrElse(i.toLong, 0L) == (iv.e - iv.s + 1L)
      }
    }

  property("strand-aware liftover preserves lengths; reflection keeps start<=end") =
    forAll(genIvs.suchThat(_.nonEmpty), genIvs.suchThat(_.nonEmpty)) { (as, bs) =>
      import graft.SharedSpark.spark.implicits._
      val a = as.zipWithIndex.map { case (iv, i) => (i.toLong, iv.contig, iv.s, iv.e) }
        .toDF("a_key", "contig", "pos_start", "pos_end")
      // Deterministic per-block strand + offset: '-' blocks REFLECT
      // (p -> off - p), which preserves clipped-piece length — so the
      // same exact-tiling law as the forward chain must hold.
      val chain = referenceMerge(bs, 0).toSeq
        .map { case (c, s, e, _) =>
          val strand = if ((s + e) % 2 == 0) "+" else "-"
          val off = if (strand == "-") s + e + (s % 5) else (s % 7) * 3
          (c, s, e, "L" + c, off, strand)
        }
        .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset", "strand")
      val out = RangeSetOps.liftover(a, chain, "a_key").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getInt(4)))
      val ordered = out.forall(p => p._3 <= p._4)
      val lenByKey = out.groupBy(_._1).view
        .mapValues(_.map(p => p._4 - p._3 + 1L).sum).toMap
      ordered && as.zipWithIndex.forall { case (iv, i) =>
        lenByKey.getOrElse(i.toLong, 0L) == (iv.e - iv.s + 1L)
      }
    }

  property("mapIntervals equals the per-row brute-force aggregate") =
    forAll(genIvs.suchThat(_.nonEmpty), genIvs) { (as, bs) =>
      import graft.SharedSpark.spark.implicits._
      val a = as.zipWithIndex.map { case (iv, i) => (i.toLong, iv.contig, iv.s, iv.e) }
        .toDF("a_key", "contig", "pos_start", "pos_end")
      val b = bs.zipWithIndex.map { case (iv, i) => (iv.contig, iv.s, iv.e, i.toLong * 3 + 1) }
        .toDF("contig", "pos_start", "pos_end", "score")
      val got = RangeSetOps.mapIntervals(a, b, "a_key", "score").collect()
        .map(r => r.getLong(0) -> ((r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double]))))
        .toMap
      as.zipWithIndex.forall { case (iv, i) =>
        val overl = bs.zipWithIndex.collect {
          case (biv, j) if biv.contig == iv.contig && iv.e >= biv.s && iv.s <= biv.e =>
            j.toLong * 3 + 1
        }
        val (n, sum) = got(i.toLong)
        n == overl.length &&
          (if (overl.isEmpty) sum.isEmpty else sum.contains(overl.sum.toDouble))
      }
    }

  property("merged runs and complement gaps tile [1, maxEnd] per contig") =
    forAll(genIvs.suchThat(_.nonEmpty)) { ivs =>
      import graft.SharedSpark.spark.implicits._
      val df = ivs.map(iv => (iv.contig, iv.s, iv.e))
        .toDF("contig", "pos_start", "pos_end")
      val runs = RangeSetOps.merge(df).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toList
      val gaps = RangeSetOps.complement(df).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toList
      ivs.groupBy(_.contig).forall { case (c, rs) =>
        val hi = rs.map(_.e).max
        val segs = (runs.filter(_._1 == c) ++ gaps.filter(_._1 == c))
          .map(t => (t._2, t._3)).sorted
        // exact tiling: starts at 1, contiguous, ends at hi, no overlap
        segs.headOption.exists(_._1 == 1 || rs.map(_.s).min == 1) &&
          segs.zip(segs.drop(1)).forall { case ((_, e1), (s2, _)) => s2 == e1 + 1 } &&
          segs.lastOption.exists(_._2 == hi) &&
          segs.map(t => t._2 - t._1 + 1L).sum == hi.toLong - segs.head._1 + 1
      }
    }
}
