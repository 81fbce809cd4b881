package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.sql.Timestamp

/** MemoryStream-driven checks of the streaming operators. */
class StreamingSpec extends SparkSpec {

  private implicit def sqlContext: org.apache.spark.sql.SQLContext =
    graft.SharedSpark.spark.sqlContext

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def run[T](q: StreamingQuery)(f: => T): T =
    try { q.processAllAvailable(); f } finally q.stop()

  test("hourly windowed aggregation with watermark") {
    import graft.SharedSpark.spark.implicits._
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val query = StreamingOps.hourlyEventStats(df)
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    in.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0), (ts(70), "view", 5.0))
    run(query) {
      val rows = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 01:00:00.0", "view", 1L, 5.0)))
    }
  }

  test("streaming dedup drops in-watermark duplicate fingerprints") {
    import graft.SharedSpark.spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val query = StreamingOps.dedupStream(df)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    in.addData((ts(1), 1L, "hello world"), (ts(2), 2L, "HELLO   world"), (ts(3), 3L, "other doc"))
    run(query) {
      val ids = spark.table("dedup").select("doc_id").collect().map(_.getLong(0)).toSet
      // doc 2 normalizes to the same fingerprint as doc 1 → dropped.
      assert(ids === Set(1L, 3L))
    }
  }

  test("streaming near-dup gate: verdicts against a static base corpus") {
    import graft.SharedSpark.spark.implicits._
    val baseText = (1 to 30).map(i => s"base$i").mkString(" ")
    val base = Seq((100L, baseText), (101L, "a completely different document about other things entirely"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val query = StreamingOps.dedupGateStream(df, base, threshold = 0.8)
      .writeStream.format("memory").queryName("gate").outputMode("append").start()
    in.addData(
      (ts(1), 1L, baseText),                             // exact copy of base 100
      (ts(2), 2L, baseText + " extra tail"),             // near dup of base 100
      (ts(3), 3L, "fresh unseen content that matches nothing in the base corpus at all"))
    run(query) {
      val rows = spark.table("gate").collect()
        .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3), r.getDouble(4)))
        .sortBy(_._1)
      assert(rows(0) === ((1L, true, 100L, 1.0)))
      assert(rows(1)._2 && rows(1)._3 == 100L && rows(1)._4 >= 0.8 && rows(1)._4 < 1.0,
        s"near dup should gate: ${rows(1)}")
      assert(rows(2)._1 == 3L && !rows(2)._2 && rows(2)._3 == -1L)
    }
  }

  test("streaming similarity search matches the batch exact top-k") {
    import graft.SharedSpark.spark.implicits._
    val corpus = graft.Tables.embeddings(spark, graft.SharedSpark.sf0001)
      .limit(64).cache()
    corpus.count()
    // Re-id the queries so nothing is excluded as a self-match on either path.
    val queries = corpus.filter(col("vec_id") < 4)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val batch = graft.operators.EmbeddingOps.exactTopK(corpus, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val qRows = queries.as[(Long, Seq[Float])].collect()
    val in = MemoryStream[(Timestamp, Long, Seq[Float])]
    val df = in.toDF().toDF("ts", "vec_id", "embedding")
    val query = StreamingOps.similarStream(df, corpus, k = 3)
      .writeStream.format("memory").queryName("simstream").outputMode("append").start()
    in.addData(qRows.map { case (id, e) => (ts(1), id, e) }.toSeq: _*)
    run(query) {
      val got = spark.table("simstream")
        .select("vec_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === batch)
    }
    corpus.unpersist(blocking = false)
  }

  test("streaming IVF serve from artifacts matches the batch probe path") {
    import graft.SharedSpark.spark.implicits._
    val corpus = graft.Tables.embeddings(spark, graft.SharedSpark.sf0001)
      .limit(64).cache()
    corpus.count()
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    new graft.GraftSession(spark).ivfTrain(corpus, path)
    // Re-id the queries so nothing is excluded as a self-match on either path.
    val queries = corpus.filter(col("vec_id") < 4)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val (centroids, assigned) = graft.operators.EmbeddingOps.loadIndex(spark, path)
    val batch = graft.operators.EmbeddingOps
      .ivfTopKWith(centroids, assigned, corpus, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val qRows = queries.as[(Long, Seq[Float])].collect()
    val in = MemoryStream[(Timestamp, Long, Seq[Float])]
    val df = in.toDF().toDF("ts", "vec_id", "embedding")
    val query = StreamingOps.similarStreamIvf(df, path, corpus, k = 3)
      .writeStream.format("memory").queryName("ivfstream").outputMode("append").start()
    in.addData(qRows.map { case (id, e) => (ts(1), id, e) }.toSeq: _*)
    run(query) {
      val got = spark.table("ivfstream")
        .select("vec_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === batch, "stream serve must equal the batch probe-only answer")
    }
    corpus.unpersist(blocking = false)
  }

  test("streaming IVF-PQ serve from artifacts matches the batch composed path") {
    import graft.SharedSpark.spark.implicits._
    val corpus = graft.Tables.embeddings(spark, graft.SharedSpark.sf0001)
      .limit(64).cache()
    corpus.count()
    val ivfPath = java.nio.file.Files.createTempDirectory("graft-ivfpq-i").toString
    val pqPath = java.nio.file.Files.createTempDirectory("graft-ivfpq-p").toString
    val gs = new graft.GraftSession(spark)
    gs.ivfTrain(corpus, ivfPath)
    gs.pqTrain(corpus, pqPath)
    // Re-id the queries so nothing is excluded as a self-match on either path.
    val queries = corpus.filter(col("vec_id") < 4)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val (centroids, assigned) = graft.operators.EmbeddingOps.loadIndex(spark, ivfPath)
    val (books, encoded) = graft.operators.EmbeddingOps.loadPqIndex(spark, pqPath)
    val batch = graft.operators.EmbeddingOps
      .ivfPqTopKWith(centroids, assigned, books, encoded, corpus, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val qRows = queries.as[(Long, Seq[Float])].collect()
    val in = MemoryStream[(Timestamp, Long, Seq[Float])]
    val df = in.toDF().toDF("ts", "vec_id", "embedding")
    val query = StreamingOps.similarStreamIvfPq(df, ivfPath, pqPath, corpus, k = 3)
      .writeStream.format("memory").queryName("ivfpqstream").outputMode("append").start()
    in.addData(qRows.map { case (id, e) => (ts(1), id, e) }.toSeq: _*)
    run(query) {
      val got = spark.table("ivfpqstream")
        .select("vec_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === batch, "stream serve must equal the batch composed answer")
    }
    corpus.unpersist(blocking = false)
  }

  test("streaming dedup gate refuses an over-budget base corpus") {
    import graft.SharedSpark.spark.implicits._
    val base = Seq((1L, "text")).toDF("doc_id", "text")
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    spark.conf.set("spark.graft.rangejoin.maxBroadcastBytes", "1")
    try {
      val e = intercept[IllegalArgumentException](StreamingOps.dedupGateStream(df, base))
      assert(e.getMessage.contains("crossDupPairs"))
    } finally spark.conf.unset("spark.graft.rangejoin.maxBroadcastBytes")
    // One-shingle docs: a Catalyst estimate under the budget, but every
    // doc lays out 64 distinct band keys — the runtime index bytes trip.
    val shortDocs = (0 until 200).map(i => (i.toLong, s"a$i b$i c$i")).toDF("doc_id", "text")
    val budget = 20000L
    assert(shortDocs.queryExecution.optimizedPlan.stats.sizeInBytes <= budget)
    spark.conf.set("spark.graft.rangejoin.maxBroadcastBytes", budget.toString)
    try {
      val e = intercept[IllegalStateException](StreamingOps.dedupGateStream(df, shortDocs))
      assert(e.getMessage.contains("crossDupPairs"))
    } finally spark.conf.unset("spark.graft.rangejoin.maxBroadcastBytes")
  }

  /** Distinct word 3-shingles, tokenized as the gate does. */
  private def shingles(text: String): Set[String] = {
    val w = text.toLowerCase.trim.split("\\s+", -1)
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  test("streaming dedup gate equals a brute-force best match over the whole base") {
    import graft.SharedSpark.spark.implicits._
    val rnd = new scala.util.Random(31)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(150)}")
    val plain = (0 until 80).map(i => (1000L + i, words(15 + rnd.nextInt(25))))
    val twin = words(30).mkString(" ")
    val base = plain.map { case (id, ws) => (id, ws.mkString(" ")) } ++ Seq(
      (2002L, twin), (2001L, twin), // identical docs under two ids
      (3000L, "two words"), (3001L, ""), (3002L, "a b c"))
    // Near dups: base docs with 0..5 words replaced, spanning the threshold.
    val near = plain.take(40).zipWithIndex.map { case ((_, ws), i) =>
      (10L + i, ws.zipWithIndex.map { case (w, j) =>
        if (j < 3 * (i % 6) && j % 3 == 0) s"x$j" else w
      }.mkString(" "))
    }
    val stream = near ++ Seq((100L, twin), (101L, "two words"), (102L, ""),
      (103L, "a b c"), (104L, "nothing here matches any document in the base corpus"))
    val threshold = 0.6
    val baseSets = base.map { case (id, t) => (id, shingles(t)) }.sortBy(_._1)
    val truth = stream.map { case (id, t) =>
      val s = shingles(t)
      val (bestId, bestJ) = baseSets.foldLeft((-1L, 0.0)) { case ((bi, bj), (c, bs)) =>
        val union = (s | bs).size
        val jac = if (union == 0) 0.0 else (s & bs).size.toDouble / union
        if (jac > bj) (c, jac) else (bi, bj) // ascending ids: ties keep the lower
      }
      id -> (bestJ >= threshold, bestId, bestJ)
    }.toMap
    assert(truth(100L) === ((true, 2001L, 1.0)))
    assert(truth.values.count(_._1) >= 10 && truth.values.count(!_._1) >= 10)
    for (parts <- Seq("1", "8")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val baseDf = base.toDF("doc_id", "text").repartition(col("doc_id"))
        val docs = stream.map { case (id, t) => (ts(1), id, t) }.toDF("ts", "doc_id", "text")
          .repartition(col("doc_id"))
        val got = StreamingOps.dedupGateStream(docs, baseDf, threshold)
          .collect().map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3), r.getDouble(4)))
          .toMap
        assert(got.keySet === truth.keySet)
        truth.foreach { case (id, (dup, bestId, bestJ)) =>
          if (dup) assert(got(id) === ((dup, bestId, bestJ)), s"doc $id at $parts partitions")
          else assert(!got(id)._1 && got(id)._2 == -1L, s"doc $id at $parts partitions: ${got(id)}")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("streaming dedup gate builds its index in one job and persists nothing") {
    import graft.SharedSpark.spark.implicits._
    val base = spark.range(0, 50, 1, 3).select(col("id").as("doc_id"),
      concat_ws(" ", lit("document"), col("id"), lit("says"), col("id") % 7, lit("and"),
        col("id") % 5, lit("words")).as("text"))
    val docs = Seq((ts(1), 1L, "document 3 says 3 and 3 words")).toDF("ts", "doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (gate, jobs) = org.apache.spark.sql.graft.TestListeners.jobsIn(spark,
      "dedup-gate-index-jobs")(StreamingOps.dedupGateStream(docs, base))
    assert(jobs === 1, s"index build ran $jobs jobs")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"dedup gate left persisted RDDs behind: $leaked")
    assert(gate.filter(col("is_dup")).select(col("dup_of")).as[Long].collect().toSeq === Seq(3L))
  }

  test("streaming curation: dedup + quality gate + split label in one stream") {
    import graft.SharedSpark.spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    // "tiny" scores 0.51 (short but all-distinct); longDoc ~0.9.
    val query = StreamingOps.curateStream(df, minQuality = 0.6)
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    val longDoc = (1 to 40).map(i => s"word$i").mkString(" ")
    in.addData(
      (ts(1), 1L, longDoc),
      (ts(2), 2L, longDoc), // exact dup of 1 → dropped by streaming dedup
      (ts(3), 3L, "tiny"), // quality below the gate → dropped
      (ts(4), 4L, longDoc + " unique tail"))
    run(query) {
      val rows = spark.table("curated").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(rows.keySet === Set(1L, 4L))
      // The split label matches the batch assignment for the same key.
      val batch = graft.operators.TextOps.assignSplits(Seq(1L).toDF("doc_id"))
        .select("split").head().getString(0)
      assert(rows(1L) === batch)
    }
  }

  test("streaming sessionization groups events by per-user inactivity gap") {
    import graft.SharedSpark.spark.implicits._
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val query = StreamingOps.sessionizeStream(df, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    in.addData(
      (ts(0), 1L, 1.0), (ts(10), 1L, 2.0),  // user 1, session A (gap 10m < 30m)
      (ts(60), 1L, 4.0),                    // user 1, session B (50m gap)
      (ts(5), 2L, 8.0))                     // user 2, own session
    // Advance the watermark past every open session so append emits them.
    in.addData((ts(600), 9L, 0.0))
    run(query) {
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
      assert(rows === Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
    }
  }

  test("stream-static interval join annotates reads against static targets") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(
      ("1", 100, 200, "tA"), ("1", 150, 300, "tB"), ("2", 50, 60, "tC"))
      .toDF("contig", "pos_start", "pos_end", "name")
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.annotateStream(in.toDS(), targets)
      .writeStream.format("memory").queryName("annotated").outputMode("append").start()
    in.addData(
      StreamingOps.StreamRead("1", 190, 210, ts(1)), // overlaps tA and tB
      StreamingOps.StreamRead("1", 400, 500, ts(2)), // no overlap
      StreamingOps.StreamRead("2", 55, 58, ts(3)),   // inside tC
      StreamingOps.StreamRead("3", 55, 58, ts(4)))   // unknown contig
    query.processAllAvailable()
    // Second batch: static forest still serves later batches.
    in.addData(StreamingOps.StreamRead("1", 100, 100, ts(5))) // point hit on tA
    run(query) {
      val rows = spark.table("annotated")
        .select("contig", "pos_start", "target_name").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(rows === Set(
        ("1", 190, "tA"), ("1", 190, "tB"), ("2", 55, "tC"), ("1", 100, "tA")))
    }
  }

  test("stream-static count annotate emits rank-identity overlap counts per read") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(
      ("1", 100, 200, "tA"), ("1", 150, 300, "tB"), ("1", 190, 195, "tN"),
      ("2", 50, 60, "tC"), ("1", 900, 800, "tInv")) // inverted row dropped
      .toDF("contig", "pos_start", "pos_end", "name")
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.countStream(in.toDS(), targets)
      .writeStream.format("memory").queryName("counted").outputMode("append").start()
    in.addData(
      StreamingOps.StreamRead("1", 190, 210, ts(1)), // tA, tB, tN -> 3
      StreamingOps.StreamRead("1", 400, 500, ts(2)), // zero -> dropped
      StreamingOps.StreamRead("2", 55, 58, ts(3)),   // tC -> 1
      StreamingOps.StreamRead("3", 55, 58, ts(4)))   // unknown contig -> dropped
    query.processAllAvailable()
    // Second batch: the broadcast rank arrays still serve later batches.
    in.addData(StreamingOps.StreamRead("1", 100, 100, ts(5))) // point hit on tA -> 1
    run(query) {
      val rows = spark.table("counted")
        .select("contig", "pos_start", "n_overlaps").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows === Set(("1", 190, 3L), ("2", 55, 1L), ("1", 100, 1L)))
    }
  }

  test("stream-static nearest join pairs each read with its closest static features") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(
      ("1", 80, 90, "tL"), ("1", 120, 130, "tR"), ("1", 305, 400, "tO"),
      ("2", 60, 70, "tC"))
      .toDF("contig", "pos_start", "pos_end", "name")
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.nearestStream(in.toDS(), targets)
      .writeStream.format("memory").queryName("nearest_out").outputMode("append").start()
    in.addData(
      StreamingOps.StreamRead("1", 100, 110, ts(1)), // equidistant flanks tL/tR, d=10
      StreamingOps.StreamRead("1", 300, 310, ts(2)), // overlaps tO -> d=0
      StreamingOps.StreamRead("2", 50, 60, ts(3)),   // touches tC at its start -> d=0
      StreamingOps.StreamRead("3", 10, 20, ts(4)))   // contig absent -> dropped
    query.processAllAvailable()
    // Second batch: the static forest still serves later micro-batches.
    in.addData(StreamingOps.StreamRead("1", 140, 150, ts(5))) // tR alone, d=10
    run(query) {
      val rows = spark.table("nearest_out")
        .select("contig", "pos_start", "target_name", "distance").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
      assert(rows === Set(
        ("1", 100, "tL", 10), ("1", 100, "tR", 10),
        ("1", 300, "tO", 0), ("2", 50, "tC", 0),
        ("1", 140, "tR", 10)))
    }
  }

  test("stream-static k-nearest join emits the k smallest distinct distances") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(
      ("1", 80, 90, "tL"), ("1", 120, 130, "tR"), ("1", 305, 400, "tO"))
      .toDF("contig", "pos_start", "pos_end", "name")
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.nearestKStream(in.toDS(), targets, 2)
      .writeStream.format("memory").queryName("nearest_k_out").outputMode("append").start()
    in.addData(
      StreamingOps.StreamRead("1", 100, 110, ts(1)), // d=10 ties tL/tR (rank 1), d=195 tO (rank 2)
      StreamingOps.StreamRead("2", 50, 60, ts(2)))   // contig absent -> dropped
    query.processAllAvailable()
    run(query) {
      val rows = spark.table("nearest_k_out")
        .select("contig", "pos_start", "target_name", "distance").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
      assert(rows === Set(
        ("1", 100, "tL", 10), ("1", 100, "tR", 10), ("1", 100, "tO", 195)))
    }
  }

  /** The physical nodes of a streaming query's last micro-batch (Spark
    * plans a stateless micro-batch adaptively). */
  private def lastPlan(q: StreamingQuery): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other.children.flatMap(nodes)
    })
    nodes(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan)
  }

  test("stream-static overlap joins plan the forest join with the static side built") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(("1", 100, 200, "tA"), ("1", 150, 300, "tB"), ("2", 50, 60, "tC"))
      .toDF("contig", "pos_start", "pos_end", "name")
    def overlap(reads: DataFrame, t: DataFrame) = reads("contig") === t("contig") &&
      reads("pos_end") >= t("pos_start") && reads("pos_start") <= t("pos_end")
    // A static left side must still build; a left outer join keeps the
    // stream's unmatched reads.
    val base = Set((190, "tA"), (190, "tB"), (55, "tC"))
    val cases = Seq[(String, Dataset[StreamingOps.StreamRead] => DataFrame, Boolean,
        Set[(Int, String)])](
      ("annotateStream", in => StreamingOps.annotateStream(in, targets)
        .select(col("pos_start"), col("target_name")), true, base),
      ("static-left inner", in => {
        val r = in.toDF()
        targets.join(r, overlap(r, targets)).select(r("pos_start"), targets("name"))
      }, false, base),
      ("left outer", in => {
        val r = in.toDF()
        r.join(targets, overlap(r, targets), "left_outer").select(r("pos_start"), targets("name"))
      }, true, base + ((400, null))))
    for (((name, op, streamLeft, want), i) <- cases.zipWithIndex) {
      val in = MemoryStream[StreamingOps.StreamRead]
      val q = op(in.toDS()).writeStream.format("memory").queryName(s"forest_stream_$i")
        .outputMode("append").start()
      def rows = spark.table(s"forest_stream_$i").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      run(q) {
        in.addData(StreamingOps.StreamRead("1", 190, 210, ts(1)),
          StreamingOps.StreamRead("1", 400, 500, ts(2)),
          StreamingOps.StreamRead("2", 55, 58, ts(3)))
        q.processAllAvailable()
        val found = lastPlan(q).collect { case f: graft.plans.IntervalForestJoinExec => f }
        assert(found.length === 1, s"$name: no forest join in the micro-batch plan")
        assert(found.head.buildLeft !== streamLeft, s"$name: the stream must not build")
        assert(rows === want, name)
        // The second micro-batch broadcasts the static side again.
        in.addData(StreamingOps.StreamRead("1", 100, 100, ts(4)))
        q.processAllAvailable()
        assert(rows === want + ((100, "tA")), s"$name, second micro-batch")
      }
    }
  }

  test("nearestKJoin over a stream runs the broadcast probe and matches brute force") {
    import graft.SharedSpark.spark.implicits._
    val rnd = new scala.util.Random(23)
    val targets = Seq.tabulate(40)(i => ((1 + i % 2).toString, rnd.nextInt(2000) + 1))
      .map { case (c, s) => (c, s, s + rnd.nextInt(60)) }
    val reads = Seq.tabulate(30) { i =>
      val s = rnd.nextInt(2000) + 1
      StreamingOps.StreamRead((1 + i % 3).toString, s, s + 40, ts(i))
    }
    val in = MemoryStream[StreamingOps.StreamRead]
    val right = targets.toDF("contig", "pos_start", "pos_end")
    val near = graft.operators.NearestJoinOps.nearestKJoin(in.toDS().toDF(), right, 2)
      .toDF("contig", "pos_start", "pos_end", "ts", "t_contig", "t_start", "t_end", "distance")
    val q = near.writeStream.format("memory").queryName("nearest_k_join_stream")
      .outputMode("append").start()
    run(q) {
      in.addData(reads.take(15): _*)
      q.processAllAvailable()
      in.addData(reads.drop(15): _*)
      q.processAllAvailable()
      assert(lastPlan(q).collect { case p: graft.plans.BroadcastProbeExec => p }.length === 1)
      val got = spark.table("nearest_k_join_stream").collect()
        .map(r => (r.getInt(1), r.getString(0), r.getInt(5), r.getInt(7))).toSeq.sorted
      // Brute force: per read, the targets on its contig at its 2
      // smallest distinct distances.
      val want = reads.flatMap { r =>
        val ds = targets.filter(_._1 == r.contig).map { case (_, s, e) =>
          (s, math.max(math.max(s - r.pos_end, r.pos_start - e), 0))
        }
        val keep = ds.map(_._2).distinct.sorted.take(2).toSet
        ds.collect { case (s, d) if keep(d) => (r.pos_start, r.contig, s, d) }
      }.sorted
      assert(got === want)
      assert(got.nonEmpty)
    }
  }

  test("stream-stream interval join pairs overlapping reads within the time band") {
    import graft.SharedSpark.spark.implicits._
    val inL = MemoryStream[StreamingOps.StreamRead]
    val inR = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.joinStreams(inL.toDS(), inR.toDS())
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    inL.addData(
      StreamingOps.StreamRead("1", 100, 200, ts(10)),
      StreamingOps.StreamRead("1", 500, 600, ts(12)),
      StreamingOps.StreamRead("2", 100, 200, ts(14))) // wrong contig for rB
    inR.addData(
      StreamingOps.StreamRead("1", 150, 160, ts(20)),  // overlaps L1 in band
      StreamingOps.StreamRead("1", 700, 800, ts(22)),  // no positional overlap
      StreamingOps.StreamRead("1", 90, 105, ts(300)))  // overlap but outside ±1h band
    run(query) {
      val rows = spark.table("ssjoin")
        .select("contig", "l_start", "r_start").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(rows === Set(("1", 100, 150)))
    }
  }

  test("stream-stream join state is bounded: eviction keeps rows out of state") {
    // r6 VERDICT #2: the scaladoc promises watermark-bounded state; this
    // pins it. Five batches, each 6h later in event time, each adding 2+2
    // rows; the 2h watermark + ±1h band make every batch's rows evictable
    // two batches later, so total state must stay far below the 20 rows
    // ingested — a join whose state grows with stream length would fail.
    import graft.SharedSpark.spark.implicits._
    val inL = MemoryStream[StreamingOps.StreamRead]
    val inR = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.joinStreams(inL.toDS(), inR.toDS())
      .writeStream.format("memory").queryName("ssjoin_state").outputMode("append").start()
    val stateSizes = (0 until 5).map { i =>
      val t = ts(i * 360 + 10)
      inL.addData(StreamingOps.StreamRead("1", 100, 200, t),
        StreamingOps.StreamRead("2", 300, 400, t))
      inR.addData(StreamingOps.StreamRead("1", 150, 160, t),
        StreamingOps.StreamRead("3", 100, 110, t))
      query.processAllAvailable()
      // One more empty micro-batch so eviction for the just-advanced
      // watermark lands before we read the gauge.
      query.processAllAvailable()
      query.lastProgress.stateOperators.head.numRowsTotal
    }
    try {
      // Every batch matches within itself (contig 1 overlap, same ts), so
      // output grows; state must not.
      assert(spark.table("ssjoin_state").count() === 5)
      // Plateau: the last batches hold no more state than the second one,
      // and nothing approaches the 20-row ingest total.
      assert(stateSizes.last <= stateSizes(1),
        s"state should plateau, got $stateSizes")
      assert(stateSizes.max < 20, s"state must stay below total ingested rows, got $stateSizes")
    } finally query.stop()
  }

  test("streaming windowed coverage equals the batch windowed operator") {
    import graft.SharedSpark.spark.implicits._
    val reads = Seq(
      StreamingOps.StreamRead("1", 10, 700, ts(5)),
      StreamingOps.StreamRead("1", 450, 1200, ts(15)),
      StreamingOps.StreamRead("2", 990, 1010, ts(25)),
      StreamingOps.StreamRead("1", 600, 620, ts(35)))
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.windowedCoverageStream(in.toDS(), 500)
      .writeStream.format("memory").queryName("wcov").outputMode("complete").start()
    in.addData(reads.take(2): _*)
    query.processAllAvailable()
    in.addData(reads.drop(2): _*)
    run(query) {
      val got = spark.table("wcov")
        .select("contig", "tile", "mean_coverage").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // All test reads fall in one event-time window, so the streaming
      // result must equal the batch operator on the same rows.
      val expected = graft.operators.CoverageOps.windowed(
          reads.toDF().select(col("contig"), col("pos_start"), col("pos_end")), 500)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    }
  }

  test("annotateStream refuses an oversized static side (broadcast gate)") {
    import graft.SharedSpark.spark.implicits._
    val targets = Seq(("1", 100, 200, "tA")).toDF("contig", "pos_start", "pos_end", "name")
    val in = MemoryStream[StreamingOps.StreamRead]
    val corpus = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val vecs = MemoryStream[(Timestamp, Long, Seq[Float])].toDF().toDF("ts", "vec_id", "embedding")
    // Every stream-static operator that collects its static side.
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "annotateStream" -> (() => StreamingOps.annotateStream(in.toDS(), targets)),
      "countStream" -> (() => StreamingOps.countStream(in.toDS(), targets)),
      "nearestKStream" -> (() => StreamingOps.nearestKStream(in.toDS(), targets, 2)),
      "similarStream" -> (() => StreamingOps.similarStream(vecs, corpus, 3)))
    val conf = "spark.graft.rangejoin.maxBroadcastBytes"
    for ((name, op) <- ops) {
      spark.conf.set(conf, "1") // 1 byte: any real table is over the gate
      try {
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains("maxBroadcastBytes"), s"$name: ${e.getMessage}")
      } finally spark.conf.unset(conf)
      // A side the estimate let through is held again at runtime: at a
      // near-zero slack the guard refuses it. similarStream collects its
      // corpus when the frame is defined; the three interval operators
      // take theirs from the broadcast exchange, guarded on the driver
      // when the first micro-batch runs.
      spark.conf.set("spark.graft.rangejoin.buildBytesSlack", "1e-9")
      try {
        val e = intercept[Exception] {
          if (name == "similarStream") op()
          else {
            val q = op().writeStream.format("noop").start()
            try {
              in.addData(StreamingOps.StreamRead("1", 150, 160, ts(1)))
              q.processAllAvailable()
            } finally q.stop()
          }
        }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
        assert(messages(e).exists(_.contains("at runtime")), s"$name: ${messages(e)}")
      } finally spark.conf.unset("spark.graft.rangejoin.buildBytesSlack")
      // With the default gate the same call plans fine.
      op()
    }
  }

  test("e2e: curateStream file source → parquet sink, exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_e2e")
    val (inDir, outDir, cpDir) = (s"$base/in", s"$base/out", s"$base/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts_sec", LongType)))
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name),
        rows.map { case (id, text, sec) =>
          s"""{"doc_id":$id,"text":"$text","ts_sec":$sec}"""
        }.mkString("", "\n", "\n"))
    def runOnce(): Unit = {
      val docs = spark.readStream.schema(schema).json(inDir)
        .select(col("doc_id"), col("text"), col("ts_sec").cast("timestamp").as("ts"))
      val q = StreamingOps.curateStream(docs, minQuality = 0.6)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cpDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val longDoc = (1 to 40).map(i => s"word$i").mkString(" ")
    // Run 1: one kept doc, one below the quality gate, one kept variant.
    writeBatch("b1.json", Seq(
      (1L, longDoc, 60L), (2L, "tiny", 120L), (3L, longDoc + " tail3", 180L)))
    runOnce()
    // Run 2 (restart from the checkpoint): b1 must NOT reprocess; the
    // exact dup of doc 1 must be dropped by the fingerprint state
    // restored from the checkpoint (its ts is within the 1h watermark).
    writeBatch("b2.json", Seq((4L, longDoc, 240L), (5L, longDoc + " tail5", 300L)))
    runOnce()
    val out = spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0))
    assert(out.sorted === Array(1L, 3L, 5L), s"got ${out.mkString(",")}")
    assert(out.length === out.distinct.length, "exactly-once violated")
  }

  test("vcfStream tails a directory of .vcf files identically to the batch parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vcf_stream").toString
    // Two shards landing as files, with genotype columns.
    val hdr = "##fileformat=VCFv4.3\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tna1\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "a.vcf"),
      hdr + "chr1\t100\trs1\tAC\tT\t9.5\tPASS\tDP=7\tGT\t0/1\n" +
        "chr2\t200\t.\tG\tA,C\t.\t.\tDP=9\tGT\t1/1\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "b.vcf"),
      hdr + "chrM\t5\trs9\tTTT\t.\t1.0\tq10\tDP=1\tGT\t./.\n")
    val stream = StreamingOps.vcfStream(spark, dir)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("vcfstream")
      .outputMode("append").start()
    run(q) {
      val got = spark.table("vcfstream").collect().map(_.toString).sorted.toSeq
      val batch = spark.read.format("graft.sources.VcfSource")
        .option("path", dir).load().collect().map(_.toString).sorted.toSeq
      assert(got === batch)
      assert(got.size === 3)
      // chr cleaning + REF-length pos_end + genotype column all applied.
      assert(got.exists(_.startsWith("[1,100,101,rs1,AC,T,9.5,PASS,DP=7,GT,0/1")))
      assert(got.exists(_.contains("[MT,5,7,rs9,TTT,")))
    }
    // typedGenotypes: the stream grows the same header-driven struct
    // column as the batch `genotypes 'typed'` option.
    val typed = StreamingOps.vcfStream(spark, dir, typedGenotypes = true)
      .selectExpr("pos_start", "inline(genotypes)")
    val q2 = typed.writeStream.format("memory").queryName("vcfstream_typed")
      .outputMode("append").start()
    run(q2) {
      val rows = spark.table("vcfstream_typed").collect()
      assert(rows.length === 3)
      val r100 = rows.find(_.getInt(0) == 100).get
      assert(r100.getString(1) === "na1" &&
        r100.getSeq[Int](2) === Seq(0, 1) && !r100.getBoolean(3))
      assert(rows.find(_.getInt(0) == 5).get.getSeq[Int](2) === Seq(-1, -1))
    }
  }

  test("samStream tails a directory of .sam files identically to the batch parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sam_stream").toString
    val hdr = "@HD\tVN:1.6\tSO:unsorted\n"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "sA.sam"),
      hdr + "r1\t0\tchr1\t100\t60\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:2\tXS:i:42\n" +
        "r2\t1024\tchr2\t200\t40\t2M1N2M\t*\t0\t0\tACGT\tIIII\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "sB.sam"),
      hdr + "r3\t0\t*\t0\t0\t*\t*\t0\t0\t*\t*\n")
    val stream = StreamingOps.samStream(spark, dir)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("samstream")
      .outputMode("append").start()
    run(q) {
      val got = spark.table("samstream").collect().map(_.toString).sorted.toSeq
      val batch = spark.read.format("graft.sources.SamSource")
        .option("path", dir).load().collect().map(_.toString).sorted.toSeq
      assert(got === batch)
      assert(got.size === 3)
      // S7 sample ids from arriving file names; CIGAR-derived pos_end.
      assert(got.exists(s => s.startsWith("[sA,r2") && s.contains(",200,204,")))
      assert(got.exists(_.startsWith("[sB,r3")))
    }
  }

  test("bamStream tails a directory of .bam files identically to the batch scan") {
    // The binary twin of the samStream test (r15 VERDICT #7): two BGZF
    // BAM shards land in a watched directory; the stream must decode
    // them with the batch codec — same CIGAR-derived pos_end, Phred+33
    // qual_str, NM/RG tags, and S7 sample ids from the file names.
    val dir = java.nio.file.Files.createTempDirectory("graft_bam_stream").toString
    def shard(name: String)(rows: (String, Int, Int, Int, String, String, String, String)*): Unit = {
      val w = new graft.sources.BamFormat.BamWriter(
        new java.io.FileOutputStream(s"$dir/$name"),
        Array("chr1", "chr2"), Array(10000, 10000))
      rows.foreach { case (contig, pos1, mapq, flag, qname, cigar, seq, quals) =>
        w.write(contig, pos1, mapq, flag, qname, cigar, seq,
          if (quals == null) null else quals.map(c => (c - 33).toByte).toArray,
          mdTag = null, nm = 2, rg = "rgS")
      }
      w.close()
    }
    shard("sA.bam")(
      ("chr1", 100, 60, 0, "r1", "4M", "ACGT", "IIII"),
      ("chr2", 200, 40, 1024, "r2", "2M1N2M", "ACGT", null))
    shard("sB.bam")(
      ("chr1", 300, 30, 16, "r3", "2S2M", "GGAC", "ABCD"))
    val stream = StreamingOps.bamStream(spark, dir)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("bamstream")
      .outputMode("append").start()
    run(q) {
      val cols = stream.columns.map(col)
      val got = spark.table("bamstream").collect().map(_.toString).sorted.toSeq
      val batch = spark.read.format("graft.sources.BamSource")
        .option("path", dir).load()
        .select(cols: _*).collect().map(_.toString).sorted.toSeq
      assert(got === batch)
      assert(got.size === 3)
      // S7 sample ids; CIGAR-derived pos_end (2M1N2M consumes 5 bases).
      assert(got.exists(s => s.startsWith("[sA,r2") && s.contains(",200,204,")))
      assert(got.exists(_.startsWith("[sB,r3")))
    }
  }

  test("stateful contig progress accumulates across batches") {
    import graft.SharedSpark.spark.implicits._
    val in = MemoryStream[StreamingOps.StreamRead]
    val query = StreamingOps.contigProgress(in.toDS())
      .writeStream.format("memory").queryName("progress").outputMode("update").start()
    in.addData(StreamingOps.StreamRead("1", 10, 19, ts(1)), StreamingOps.StreamRead("1", 30, 39, ts(2)))
    query.processAllAvailable()
    in.addData(StreamingOps.StreamRead("1", 5, 9, ts(3)), StreamingOps.StreamRead("2", 100, 199, ts(4)))
    run(query) {
      val byContig = spark.table("progress").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(byContig("1") === ((3L, 5, 39, 25L)))
      assert(byContig("2") === ((1L, 100, 199, 100L)))
    }
  }
}
