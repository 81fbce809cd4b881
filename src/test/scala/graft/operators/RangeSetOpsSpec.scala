package graft.operators

import graft.{SharedSpark, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.TestListeners
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Interval set algebra laws, with emphasis on the cross-partition cases
  * the seeded prefix scan in [[RangeSetOps.merge]] exists for. */
class RangeSetOpsSpec extends SparkSpec {

  private def iv(rows: (String, Int, Int)*): DataFrame = {
    import graft.SharedSpark.spark.implicits._
    rows.toDF("contig", "pos_start", "pos_end")
  }

  /** An interval frame built from an RDD. Its size estimate is unknown,
    * so [[RangeSetOps.merge]] sweeps it over `spark.sql.shuffle.partitions`
    * range partitions; a small local frame's estimate gives one. */
  private def ivRdd(rows: Seq[(String, Int, Int)], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromTuple), slices),
      StructType(Seq(StructField("contig", StringType), StructField("pos_start", IntegerType),
        StructField("pos_end", IntegerType))))

  private def runs(df: DataFrame): Set[(String, Int, Int, Long)] =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet

  private def frags(df: DataFrame): Set[(String, Int, Int)] =
    df.select(col("contig"), col("pos_start"), col("pos_end"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet

  test("merge coalesces overlapping, touching, and contained intervals") {
    val m = runs(RangeSetOps.merge(iv(
      ("1", 10, 20), ("1", 15, 25), ("1", 26, 30), // overlap + touching chain
      ("1", 12, 14),                               // contained
      ("1", 40, 50),                               // separate
      ("2", 10, 20))))                             // other contig
    assert(m === Set(("1", 10, 30, 4L), ("1", 40, 50, 1L), ("2", 10, 20, 1L)))
  }

  test("maxGap bridges gaps up to the limit, not beyond") {
    val in = iv(("1", 10, 20), ("1", 24, 30), ("1", 36, 40))
    assert(runs(RangeSetOps.merge(in, maxGap = 3)) ===
      Set(("1", 10, 30, 2L), ("1", 36, 40, 1L)))
    assert(runs(RangeSetOps.merge(in, maxGap = 5)) ===
      Set(("1", 10, 40, 3L)))
  }

  test("a giant interval bridges runs in partitions it never touches by start order") {
    // The run (5,1000) sorts first; with many range partitions the later
    // intervals land in partitions whose interior runs must still merge
    // through the carried-in running max — the exact hole a naive
    // local-merge + first/last-boundary patch has.
    val rows = ("1", 5, 1000) +: (0 until 200).map(i => ("1", 10 + 4 * i, 11 + 4 * i))
    for (parts <- Seq(3, 8, 24)) SharedSpark.withShufflePartitions(parts) {
      val merged = RangeSetOps.merge(ivRdd(rows, 16))
      assert(merged.queryExecution.toRdd.getNumPartitions > 1, s"one sweep task at $parts")
      assert(runs(merged) === Set(("1", 5, 1000, 201L)), s"partitions=$parts")
    }
  }

  test("merge is partition-count invariant") {
    val rows = (0 until 500).map { i =>
      (s"c${i % 3}", (i * 37) % 2000 + 1, (i * 37) % 2000 + 1 + (i % 60))
    }
    val one = SharedSpark.withShufflePartitions(1)(runs(RangeSetOps.merge(ivRdd(rows, 1))))
    assert(one.nonEmpty)
    for (parts <- Seq(3, 13, 24)) {
      val many = SharedSpark.withShufflePartitions(parts)(runs(RangeSetOps.merge(ivRdd(rows, 13))))
      assert(many === one, s"partitions=$parts")
    }
  }

  test("complement emits leading and interior gaps only") {
    val c = frags(RangeSetOps.complement(iv(
      ("1", 5, 10), ("1", 21, 30), ("1", 25, 40), ("2", 1, 7))))
    // contig 1: [1,4] before the first run, [11,20] between runs; the
    // trailing space past max(pos_end) is unbounded — not emitted.
    // contig 2 starts at 1 — no leading gap.
    assert(c === Set(("1", 1, 4), ("1", 11, 20)))
  }

  test("subtract: covering, interior, flank, and no-overlap cases") {
    val a = {
      import graft.SharedSpark.spark.implicits._
      Seq((1L, "1", 10, 30), (2L, "1", 100, 110), (3L, "1", 200, 210), (4L, "3", 10, 20))
        .toDF("a_key", "contig", "pos_start", "pos_end")
    }
    val b = iv(
      ("1", 15, 18), ("1", 22, 24),   // two interior holes in a_key=1
      ("1", 90, 120),                 // covers a_key=2 entirely
      ("1", 205, 300))                // right flank of a_key=3
    val out = RangeSetOps.subtract(a, b, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(out === Set(
      (1L, "1", 10, 14), (1L, "1", 19, 21), (1L, "1", 25, 30),
      (3L, "1", 200, 204),
      (4L, "3", 10, 20))) // contig absent from b passes through whole
  }

  test("set algebra is immune to session rangejoin confs (exact-overlap pin)") {
    // The strategy reads spark.graft.rangejoin.{minOverlap,maxGap} at
    // PLANNING time — i.e. at the caller's action, after any conf the
    // operator could have set — so the operators embed their exactness in
    // the plan itself (IntervalOverlaps). A session-set maxGap/minOverlap
    // must not change subtract/intersect results.
    val a = {
      import graft.SharedSpark.spark.implicits._
      Seq((1L, "1", 10, 30), (2L, "1", 100, 110))
        .toDF("a_key", "contig", "pos_start", "pos_end")
    }
    val b = iv(("1", 15, 18), ("1", 38, 50)) // second is 7 bases past a_key=1
      .withColumn("b_key", col("pos_start").cast("long"))
    def subtractSet() = RangeSetOps.subtract(a, b, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    def intersectSet() = frags(RangeSetOps.intersect(a, b, Seq("a_key"), Seq("b_key")))
    val keys = Seq("spark.graft.rangejoin.maxGap", "spark.graft.rangejoin.minOverlap")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.unset)
      val wantSub = subtractSet()
      val wantInt = intersectSet()
      spark.conf.set("spark.graft.rangejoin.maxGap", "50")
      spark.conf.set("spark.graft.rangejoin.minOverlap", "10")
      assert(subtractSet() === wantSub, "subtract changed under session confs")
      assert(intersectSet() === wantInt, "intersect changed under session confs")
      // And the baseline is the exact-overlap answer, not an accident.
      assert(wantSub === Set((1L, "1", 10, 14), (1L, "1", 19, 30), (2L, "1", 100, 110)))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("intersect clips to the shared bases") {
    val a = {
      import graft.SharedSpark.spark.implicits._
      Seq((1L, "1", 10, 30), (2L, "1", 50, 60))
        .toDF("a_key", "contig", "pos_start", "pos_end")
    }
    val b = {
      import graft.SharedSpark.spark.implicits._
      Seq((7L, "1", 20, 40), (8L, "1", 5, 12), (9L, "1", 100, 200))
        .toDF("b_key", "contig", "pos_start", "pos_end")
    }
    val out = RangeSetOps.intersect(a, b, Seq("a_key"), Seq("b_key")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(out === Set((1L, "1", 20, 30, 7L), (1L, "1", 10, 12, 8L)))
  }

  test("cluster: transitive overlap groups share a run identity, singletons self-cluster") {
    import graft.SharedSpark.spark.implicits._
    val in = Seq((1L, "1", 10, 20), (2L, "1", 18, 30), (3L, "1", 29, 35), // one chain
      (4L, "1", 50, 60), (5L, "2", 10, 20))
      .toDF("b_key", "contig", "pos_start", "pos_end")
    val out = RangeSetOps.cluster(in, Seq("b_key")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out(1L) === ((10, 35)) && out(2L) === ((10, 35)) && out(3L) === ((10, 35)))
    assert(out(4L) === ((50, 60)))
    assert(out(5L) === ((10, 20)))
  }

  test("setJaccard: duplicated bases count once; disjoint sets score 0") {
    val a = iv(("1", 1, 10), ("1", 5, 10), ("1", 21, 30)) // merged: 10 + 10 bases
    val b = iv(("1", 6, 25), ("2", 1, 100))               // overlaps [6,10] and [21,25]
    val r = RangeSetOps.setJaccard(a, b).collect().head
    // inter = 5 + 5; union = 20 + 120 - 10
    assert((r.getLong(0), r.getLong(1)) === ((10L, 130L)))
    assert(r.getDouble(2) === 10.0 / 130.0)
    val z = RangeSetOps.setJaccard(iv(("1", 1, 5)), iv(("2", 1, 5))).collect().head
    assert(z.getLong(0) === 0L && z.getDouble(2) === 0.0)
  }

  test("liftover: clipped pieces shift by block offset; gaps emit unmapped") {
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30), (2L, "2", 5, 8))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val chain = Seq(
      ("1", 1, 14, "L1", 100),   // covers [10,14] -> [110,114]
      ("1", 20, 40, "L1b", -5))  // covers [20,30] -> [15,25]
      .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset")
    val out = RangeSetOps.liftover(a, chain, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    assert(out === Set(
      (1L, "mapped", "L1", 110, 114),
      (1L, "mapped", "L1b", 15, 25),
      (1L, "unmapped", "1", 15, 19),    // the gap between the two blocks
      (2L, "unmapped", "2", 5, 8)))     // contig absent from the chain
  }

  test("liftover with a broadcast-sized chain leaves no persisted RDD blocks behind") {
    // r9 ADVICE: chData was persistTracked but liftover's public entry is
    // not wrapped in CacheScope, so API callers accumulated pinned
    // MEMORY_AND_DISK blocks. Broadcast-gated chains now collect into a
    // LocalRelation instead; the gate-sharing persist is released
    // in-method. Registry equality after materializing, as the nearest
    // join's leak spec.
    import graft.SharedSpark.spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val a = Seq((1L, "1", 10, 30), (2L, "2", 5, 8))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val chain = Seq(("1", 1, 14, "L1", 100), ("1", 20, 40, "L1b", -5))
      .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset")
    val n = RangeSetOps.liftover(a, chain, "a_key").count()
    assert(n > 0)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"liftover leaked persisted RDDs: ${after -- before}")
  }

  test("liftover: assumeDisjoint=false re-merges an overlapping chain for the unmapped walk") {
    // r6 ADVICE: the disjointness contract is now an explicit parameter.
    // Chain block [10,14] is CONTAINED in [1,25] — the violation shape
    // the merge-free gap walk actually mis-handles (a plain overlap is
    // absorbed by its running max, but a contained block ends the walk
    // early and re-emits covered bases as unmapped).
    // assumeDisjoint=false merges the spans to [1,25] first, so only the
    // truly uncovered [26,30] comes out unmapped; mapped rows (one per
    // overlapping block, the inherent semantics of an ambiguous chain)
    // are identical either way.
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30)).toDF("a_key", "contig", "pos_start", "pos_end")
    val chain = Seq(
      ("1", 1, 25, "L1", 100),   // covers [10,25] -> [110,125]
      ("1", 10, 14, "L2", 200))  // covers [10,14] -> [210,214], inside L1
      .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset")
    val out = RangeSetOps.liftover(a, chain, "a_key", assumeDisjoint = false).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    assert(out === Set(
      (1L, "mapped", "L1", 110, 125),
      (1L, "mapped", "L2", 210, 214),
      (1L, "unmapped", "1", 26, 30)))
    val trusted = RangeSetOps.liftover(a, chain, "a_key").collect()
      .filter(_.getString(1) == "unmapped")
      .map(r => (r.getInt(3), r.getInt(4))).toSet
    // The default trusts a contract this chain violates: the walk ends at
    // the contained block's end (14) and re-emits covered bases.
    assert(trusted !== Set((26, 30)), s"expected the trusting default to mis-walk, got $trusted")
  }

  test("subtract/merge/complement interlock: a - b == a intersect complement-closure") {
    // Differential law on fixture data: every subtracted fragment must be
    // disjoint from every merged b-run, and fragments + clipped overlaps
    // exactly tile each a interval.
    val a = {
      import graft.SharedSpark.spark.implicits._
      (0 until 120).map(i => (i.toLong, s"c${i % 2}", (i * 53) % 900 + 1, (i * 53) % 900 + 1 + (i % 40)))
        .toDF("a_key", "contig", "pos_start", "pos_end")
    }
    val b = iv((0 until 80).map(i => (s"c${i % 2}", (i * 97) % 900 + 1, (i * 97) % 900 + 1 + 15)): _*)
    val bRuns = runs(RangeSetOps.merge(b))
    val fr = RangeSetOps.subtract(a, b, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // disjointness from every b run
    fr.foreach { case (_, c, fs, fe) =>
      assert(!bRuns.exists { case (bc, bs, be, _) => bc == c && fe >= bs && fs <= be },
        s"fragment ($c,$fs,$fe) overlaps a b-run")
    }
    // tiling: per a row, fragment lengths + overlap-clip lengths == a length
    val aRows = a.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val fragLen = fr.groupBy(_._1).view.mapValues(_.map(f => f._4 - f._3 + 1L).sum).toMap
    aRows.foreach { case (k, c, ps, pe) =>
      val covered = bRuns.toList.collect { case (bc, bs, be, _) if bc == c && pe >= bs && ps <= be =>
        (math.min(pe, be) - math.max(ps, bs) + 1L) }.sum
      assert(fragLen.getOrElse(k, 0L) + covered === (pe - ps + 1L),
        s"a_key=$k does not tile: frags=${fragLen.getOrElse(k, 0L)} covered=$covered")
    }
  }

  test("oversized subtrahend drops the broadcast hint and answers identically") {
    // The set-algebra build sides are broadcast only under the engine's
    // budget (gated on the ORIGINAL input's stats); over it the interval
    // join strategy must take its non-broadcast path with the same
    // result — nothing is force-collected to the driver.
    import graft.SharedSpark.spark.implicits._
    val spark = graft.SharedSpark.spark
    graft.Graft.ensure(spark)
    val a = Seq((1L, "1", 10, 30), (2L, "1", 100, 110), (3L, "3", 10, 20))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = iv(("1", 15, 18), ("1", 90, 120))
    val expect = Set((1L, "1", 10, 14), (1L, "1", 19, 30), (3L, "3", 10, 20))
    def run() = RangeSetOps.subtract(a, b, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(run() === expect)
    val key = "spark.graft.rangejoin.maxBroadcastBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1") // every subtrahend is now "oversized"
    try assert(run() === expect, "non-broadcast path must answer identically")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // cluster and setJaccard ride the same gate
    spark.conf.set(key, "1")
    try {
      val cl = RangeSetOps.cluster(
        Seq((1L, "1", 10, 20), (2L, "1", 18, 30)).toDF("b_key", "contig", "pos_start", "pos_end"),
        Seq("b_key")).collect().map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
      assert(cl(1L) === ((10, 30)) && cl(2L) === ((10, 30)))
      val j = RangeSetOps.setJaccard(iv(("1", 1, 10)), iv(("1", 6, 15))).collect().head
      assert((j.getLong(0), j.getLong(1)) === ((5L, 15L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("cluster and subtract size a merge output by the sweep's run bound: no count job") {
    // RDD-built inputs have no size estimate, so only the bound the merge
    // sweep gives its output can show that the runs fit the budget;
    // defining either operator then runs merge's jobs and no more.
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("contig", StringType),
      StructField("pos_start", IntegerType), StructField("pos_end", IntegerType)))
    def keyed(rows: Seq[(Int, String, Int, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 2), schema)
    val b = keyed(Seq((1, "1", 10, 20), (2, "1", 18, 30), (3, "1", 50, 60), (4, "2", 10, 20)))
    val a = keyed(Seq((1, "1", 5, 40), (2, "2", 15, 25), (3, "3", 1, 9)))
    val (_, mergeJobs) = TestListeners.jobsIn(spark, "rangeset-merge")(RangeSetOps.merge(b))
    val (cl, clusterJobs) =
      TestListeners.jobsIn(spark, "rangeset-cluster")(RangeSetOps.cluster(b, Seq("k")))
    val (sub, subtractJobs) =
      TestListeners.jobsIn(spark, "rangeset-subtract")(RangeSetOps.subtract(a, b, "k"))
    assert(mergeJobs > 0 && clusterJobs === mergeJobs && subtractJobs === mergeJobs)
    assert(cl.collect().map(r => r.getInt(0) -> ((r.getInt(4), r.getInt(5)))).toMap ===
      Map(1 -> ((10, 30)), 2 -> ((10, 30)), 3 -> ((50, 60)), 4 -> ((10, 20))))
    assert(sub.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .toSet === Set((1, "1", 5, 9), (1, "1", 31, 40), (2, "2", 21, 25), (3, "3", 1, 9)))
  }

  test("subtract assumeDisjoint: pre-merged runs answer identically without a merge") {
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30), (2L, "1", 100, 110))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = iv(("1", 15, 18), ("1", 22, 24), ("1", 90, 120))
    val viaMerge = RangeSetOps.subtract(a, b, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    val disjointRuns = RangeSetOps.merge(b)
      .select(col("contig"), col("pos_start"), col("pos_end"))
    val direct = RangeSetOps.subtract(a, disjointRuns, "a_key", assumeDisjoint = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(direct === viaMerge)
  }

  test("liftover: reverse-strand blocks reflect coordinates") {
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30)).toDF("a_key", "contig", "pos_start", "pos_end")
    val chain = Seq(
      ("1", 1, 14, "L1", 100, "+"),    // [10,14] -> [110,114]
      ("1", 20, 40, "L1r", 60, "-"))   // [20,30] reflects: p -> 60-p => [30,40]
      .toDF("contig", "pos_start", "pos_end", "dest_contig", "offset", "strand")
    val out = RangeSetOps.liftover(a, chain, "a_key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3), r.getInt(4))).toSet
    assert(out === Set(
      (1L, "mapped", "L1", 110, 114),
      (1L, "mapped", "L1r", 30, 40),   // 60-30=30 .. 60-20=40, start<=end kept
      (1L, "unmapped", "1", 15, 19)))
  }

  test("mapIntervals: bedtools-map aggregates with empty intervals kept") {
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30), (2L, "1", 100, 110), (3L, "2", 1, 5))
      .toDF("a_key", "contig", "pos_start", "pos_end")
    val b = Seq(("1", 5, 12, 4L), ("1", 20, 25, 10L), ("1", 28, 40, 1L), ("2", 50, 60, 7L))
      .toDF("contig", "pos_start", "pos_end", "score")
    val out = RangeSetOps.mapIntervals(a, b, "a_key", "score").collect()
      .map(r => r.getLong(0) -> ((r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        Option(r.get(8)).map(_.asInstanceOf[Double])))).toMap
    // a_key=1 overlaps all three b rows: count 3, sum 15, mean 5
    assert(out(1L) === ((3L, Some(15.0), Some(5.0))))
    // a_key=2 overlaps none; a_key=3 is on a contig whose only b row misses
    assert(out(2L) === ((0L, None, None)))
    assert(out(3L) === ((0L, None, None)))
  }

  test("mapIntervals: a null-valued b row still counts as an overlap") {
    import graft.SharedSpark.spark.implicits._
    val a = Seq((1L, "1", 10, 30)).toDF("a_key", "contig", "pos_start", "pos_end")
    val b = Seq(("1", 12, 15, Some(4L)), ("1", 20, 25, None))
      .toDF("contig", "pos_start", "pos_end", "score")
    val r = RangeSetOps.mapIntervals(a, b, "a_key", "score").collect().head
    // two overlapping FEATURES, but the value aggregates skip the null
    assert(r.getLong(4) === 2L, "n_overlaps counts rows, not non-null values")
    assert(r.getDouble(5) === 4.0 && r.getDouble(8) === 4.0)
  }

  test("merge fails fast on a null contig") {
    import graft.SharedSpark.spark.implicits._
    val in = Seq((null.asInstanceOf[String], 1, 5), ("1", 1, 5))
      .toDF("contig", "pos_start", "pos_end")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[org.apache.spark.SparkException] {
      RangeSetOps.merge(in).collect()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"a failed merge left persisted RDDs behind: $leaked")
    assert(e.getMessage != null)
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("null contig")),
      s"expected the loud null-contig message, got: ${rootMessages(e)}")
  }
}
