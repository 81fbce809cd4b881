package graft.operators

import graft.plans.BroadcastBudget

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) tokenizer training — the subword
  * vocabulary step of a real LLM data pipeline (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"). The
  * existing [[TextOps.tokenizeEncode]] assigns ids over a WORD vocab;
  * this learns the merge rules that build a subword vocab from
  * characters.
  *
  * Scale design — the whole trainer runs on the compressed
  * `(word, freq)` table, never the raw corpus:
  *
  *  1. ONE corpus scan + shuffle builds the distinct-word frequency
  *     table (Zipf: ~10-100M rows for a 100 TB corpus — a small
  *     DataFrame by comparison, and the only time the corpus is read).
  *  2. Each training round is one pair-count aggregation over that
  *     table (explode adjacent symbol pairs weighted by word freq,
  *     shuffle on pair) + a driver-side top-K selection + one mapped
  *     rewrite of the symbol arrays. Driver state is O(vocab), never
  *     O(corpus) or O(words).
  *  3. Rounds apply a BATCH of pairwise NON-INTERFERING merges (no two
  *     selected pairs share a symbol): applying one such merge cannot
  *     create or destroy occurrences of another (a merge only touches
  *     its own two symbols and mints a brand-new one), so every merge in
  *     the batch is applied with exactly the count it was selected at —
  *     each round is provably equivalent to applying its merges
  *     sequentially, and `batch = 1` reproduces textbook sequential BPE
  *     exactly (differentially spec-tested against an in-memory
  *     reference). Batching cuts the number of Spark rounds ~batch-fold,
  *     which is what makes a 30k-merge vocab feasible as a distributed
  *     job.
  *
  * Word-internal only (the standard convention): a `</w>` end-of-word
  * symbol caps each word so merges distinguish suffixes from interiors,
  * and no merge crosses a word boundary. All ordering is deterministic —
  * candidates rank by (freq desc, left asc, right asc) — so the learned
  * rules are a pure function of the corpus.
  */
object BpeOps {

  val EndOfWord = "</w>"

  /** `(word, freq)` over the whitespace-lowered token stream — the one
    * corpus-sized job of the trainer. */
  def wordFrequencies(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  private def toSymbols(word: String): Array[String] = {
    val cs = word.toCharArray.map(_.toString)
    cs :+ EndOfWord
  }

  /** Greedy left-to-right application of one merge to one symbol array
    * (the textbook convention: overlapping occurrences consume
    * left-first, so "aaa" under (a,a) becomes [aa, a]). */
  private def applyMerge(sym: Array[String], left: String, right: String,
      merged: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](sym.length)
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == left && sym(i + 1) == right) {
        out += merged; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Learned merge table: `(rank, left, right, merged, pair_freq)` —
    * `rank` is application order, `pair_freq` the exact corpus-weighted
    * adjacency count the pair was selected at.
    *
    * @param numMerges merges to learn (the subword vocab adds one symbol
    *                  per merge on top of the character alphabet)
    * @param batch     max non-interfering merges per distributed round
    * @param minFreq   stop when no pair reaches this count (vocab is
    *                  saturated before `numMerges` on small corpora) */
  def trainBpe(docs: DataFrame, numMerges: Int, batch: Int = 8,
      minFreq: Long = 2): DataFrame = {
    require(numMerges > 0 && batch > 0 && minFreq >= 1,
      s"need numMerges>0, batch>0, minFreq>=1; got $numMerges/$batch/$minFreq")
    val spark = docs.sparkSession
    import spark.implicits._

    // Size-gated driver trainer (r16, the [[DedupOps.clusters]] union-find
    // pattern): the corpus-sized work is wordFrequencies — ONE scan +
    // shuffle — and everything after operates on the compressed
    // (word, freq) table, which is vocab-sized (Zipf: ~10-100M rows at
    // 100 TB, a few thousand at test scale). Below the gate the whole
    // merge loop runs on the driver over the collected table — the
    // sequential trainer (batch = 1) otherwise pays numMerges full
    // Spark rounds of pure scheduling latency on kilobytes of data.
    // Above the gate the distributed loop below is unchanged. Both
    // regimes are bit-identical by construction (same counts over the
    // same multiset, same UTF8String candidate order, same window
    // truncation, same greedy non-interfering selection) and
    // differentially spec-pinned (BpeSpec "driver gate ==").
    // `spark.graft.bpe.localThreshold` = max collected rows (0 forces
    // the distributed path).
    val localThreshold = spark.conf
      .get("spark.graft.bpe.localThreshold", (1L << 20).toString).toLong
    if (localThreshold > 0) {
      val wfP = wordFrequencies(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val st = wfP.agg(count(lit(1)), sum(length(col("word")))).head
      val rows = st.getLong(0)
      val chars = if (st.isNullAt(1)) 0L else st.getLong(1)
      // The collected table must stay model-sized on the driver even for
      // degenerate "words" (minified blobs): its chars (a byte each at
      // least) are held to the broadcast budget.
      if (rows <= localThreshold && BroadcastBudget.fits(chars, spark.sessionState.conf)) {
        val all = wfP.as[(String, Long)].collect()
        wfP.unpersist(blocking = false)
        return spark.createDataFrame(driverTrain(all, numMerges, batch, minFreq))
          .toDF("rank", "left", "right", "merged", "pair_freq")
      }
      wfP.unpersist(blocking = false)
    }

    // Iterative trainer ⇒ lineage MUST be truncated per round
    // (localCheckpoint), not merely persisted: a persist keeps the full
    // logical plan, and re-analyzing/canonicalizing a plan that grows
    // with every round turned measurably exponential (round 17 took
    // 131s on a 5-doc fixture before this was a checkpoint). Same
    // pattern as MLlib's iterative algorithms. localCheckpoint is
    // executor-local; a production 30k-merge run on a real cluster
    // would set a reliable checkpoint dir and use checkpoint() at the
    // same cadence.
    //
    // LAZY checkpoints (eager = false) fold each round into ONE Spark
    // job: the round's pair-count collect materializes the previous
    // round's rewrite as a side effect, instead of a dedicated
    // checkpoint-count job followed by the collect (2 jobs/round → 1 —
    // halved driver round-trips on a 30k-merge run; job-counted in
    // BpeSpec). The previous table is unpersisted only AFTER the next
    // one materializes, so nothing ever recomputes up the chain.
    var words: Dataset[(Array[String], Long)] = wordFrequencies(docs)
      .as[(String, Long)].map { case (w, f) => (toSymbols(w), f) }
      .localCheckpoint(eager = false)
    var prev: Dataset[(Array[String], Long)] = null

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val want = math.min(batch, numMerges - merges.length)
      // Exact pair counts; only a candidate window ever reaches the
      // driver (TakeOrdered — top rows, not the pair table). The window
      // is wider than the batch because non-interference skips some.
      val window = math.max(want * 8, 64)
      val candidates = words.flatMap { case (sym, f) =>
        (0 until sym.length - 1).iterator.map(i => (sym(i), sym(i + 1), f))
      }.toDF("left", "right", "f")
        // plain hash aggregate → partial (map-side) combine + codegen,
        // where a groupByKey/reduceGroups pair would shuffle raw rows
        .groupBy(col("left"), col("right")).agg(sum(col("f")).as("freq"))
        .filter(col("freq") >= minFreq)
        .orderBy(col("freq").desc, col("left").asc, col("right").asc)
        .limit(window)
        .as[(String, String, Long)].collect()

      // `words` is materialized now; the table it was rewritten FROM
      // can finally go.
      if (prev != null) { prev.unpersist(blocking = false); prev = null }

      if (candidates.isEmpty) exhausted = true
      else {
        // Greedy non-interfering selection in rank order: a pair is
        // skipped this round if any of its operands OR its minted symbol
        // collides with a previously selected pair's operands or minted
        // symbol. The minted symbol matters because an earlier merge in
        // the batch can MINT a symbol that a later pair consumes — e.g.
        // "xyz" already exists from an earlier round, A=("x","yz") mints
        // new "xyz" occurrences, and B=("xyz","w") would then match them
        // and apply at more than its recorded count. Tracking
        // {left, right, merged} for every selected pair closes that hole
        // (and still covers the (a,a)-vs-(a,x) self-overlap case). The
        // first candidate always passes the empty set, so at least one
        // merge is selected whenever candidates exist.
        val touched = scala.collection.mutable.HashSet.empty[String]
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        candidates.iterator.takeWhile(_ => selected.length < want).foreach {
          case (l, r, f) =>
            if (!touched.contains(l) && !touched.contains(r) && !touched.contains(l + r)) {
              selected += ((l, r, f)); touched += l; touched += r; touched += l + r
            }
        }
        val rules = selected.zipWithIndex.map { case ((l, r, f), i) =>
          (merges.length + i, l, r, l + r, f)
        }
        merges ++= rules
        val bc = spark.sparkContext.broadcast(rules.map(t => (t._2, t._3, t._4)).toArray)
        prev = words
        words = prev.map { case (sym, f) =>
          var s = sym
          val rs = bc.value
          var i = 0
          while (i < rs.length) { s = applyMerge(s, rs(i)._1, rs(i)._2, rs(i)._3); i += 1 }
          (s, f)
        }.localCheckpoint(eager = false)
      }
    }
    if (prev != null) prev.unpersist(blocking = false)
    words.unpersist(blocking = false)
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "left", "right", "merged", "pair_freq")
  }

  /** The under-gate trainer: the distributed loop's exact mirror over the
    * collected `(word, freq)` table. Candidate order replicates Spark's
    * `ORDER BY freq DESC, left ASC, right ASC` — string ASC in Spark is
    * UTF8String binary order (UTF-8 bytes = code-point order), which
    * differs from Java's `String.compareTo` (UTF-16 code units) beyond
    * the BMP, so the comparator goes through [[UTF8String]]. The
    * candidate WINDOW truncation is replicated too: selection scans only
    * the top `max(want·8, 64)` candidates, so a round that exhausts the
    * window mid-selection applies exactly the same (possibly short)
    * batch as the distributed trainer. */
  private def driverTrain(wf: Array[(String, Long)], numMerges: Int,
      batch: Int, minFreq: Long): Seq[(Int, String, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    var words: Array[(Array[String], Long)] =
      wf.map { case (w, f) => (toSymbols(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val want = math.min(batch, numMerges - merges.length)
      val window = math.max(want * 8, 64)
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        var i = 0
        while (i < sym.length - 1) {
          val k = (sym(i), sym(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      val candidates = counts.iterator
        .filter(_._2 >= minFreq)
        .map { case ((l, r), f) =>
          (l, r, f, UTF8String.fromString(l), UTF8String.fromString(r))
        }.toArray
        .sortWith { (a, b) =>
          if (a._3 != b._3) a._3 > b._3
          else {
            val cl = a._4.compareTo(b._4)
            if (cl != 0) cl < 0 else a._5.compareTo(b._5) < 0
          }
        }.take(window)
      if (candidates.isEmpty) exhausted = true
      else {
        val touched = scala.collection.mutable.HashSet.empty[String]
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        candidates.iterator.takeWhile(_ => selected.length < want).foreach {
          case (l, r, f, _, _) =>
            if (!touched.contains(l) && !touched.contains(r) && !touched.contains(l + r)) {
              selected += ((l, r, f)); touched += l; touched += r; touched += l + r
            }
        }
        val rules = selected.zipWithIndex.map { case ((l, r, f), i) =>
          (merges.length + i, l, r, l + r, f)
        }
        merges ++= rules
        words = words.map { case (sym, f) =>
          var s = sym
          rules.foreach { t => s = applyMerge(s, t._2, t._3, t._4) }
          (s, f)
        }
      }
    }
    merges.toSeq
  }

  /** A fixed, deterministic merge table (common English merges, rank
    * order) for oracle-checking the ENCODE kernel: [[bpeEncode]] is a
    * pure function of (corpus, merges), so encoding with this fixture is
    * exactly SQL-expressible (a DuckDB recursive CTE iterating
    * boundary-safe replace to fixpoint per rule — equivalent to
    * [[applyMerge]]'s single greedy left-to-right pass because a merge
    * can never create a new occurrence of its own pair). The TRAINED
    * table's encode path stays differentially covered by BpeSpec. */
  val FixtureMerges: Seq[(Int, String, String, String)] = Seq(
    (1, "e", EndOfWord, s"e$EndOfWord"), (2, "t", "h", "th"),
    (3, "th", s"e$EndOfWord", s"the$EndOfWord"), (4, "i", "n", "in"),
    (5, "a", "n", "an"), (6, "o", "n", "on"), (7, "e", "r", "er"),
    (8, "r", "e", "re"), (9, "a", "t", "at"),
    (10, "s", EndOfWord, s"s$EndOfWord"), (11, "d", EndOfWord, s"d$EndOfWord"),
    (12, "in", "g", "ing"), (13, "ing", EndOfWord, s"ing$EndOfWord"),
    (14, "o", "r", "or"), (15, "t", EndOfWord, s"t$EndOfWord"),
    (16, "an", s"d$EndOfWord", s"and$EndOfWord"), (17, "o", "f", "of"),
    (18, "of", EndOfWord, s"of$EndOfWord"), (19, "t", "o", "to"),
    (20, "c", "o", "co"))

  /** [[FixtureMerges]] as the merge-table frame [[bpeEncode]] accepts.
    *
    * `left != right` is a REQUIREMENT of the oracle equivalence, not just
    * a property of the current table: for a self-pair rule (a,a) the
    * oracle's replace-all consumes the shared boundary space and steals
    * the skipped occurrence's right token ("aaaaa" → [aa,a,aa] where the
    * greedy kernel gives [aa,aa,a]) — a different symbol SEQUENCE that no
    * later fixpoint iteration repairs, so piece counts can diverge under
    * follow-up rules. Enforced loudly so extending the fixture can't
    * silently break the oracle. */
  def fixtureMerges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(FixtureMerges.forall { case (_, l, r, _) => l != r },
      "fixture merge rules must have left != right (oracle equivalence precondition)")
    FixtureMerges.toDF("rank", "left", "right", "merged")
  }

  /** Apply a learned merge table to encode documents: per word, start
    * from characters + `</w>` and replay merges in rank order (the
    * standard inference rule). Output per doc:
    * `(doc_id, n_words, n_pieces, n_chars_in_words)` — the
    * pieces-per-word ratio is the usual fertility metric a tokenizer
    * report tracks. The merge table is vocab-sized by contract and
    * broadcasts; encoding is one corpus scan, zero shuffles. */
  def bpeEncode(docs: DataFrame, merges: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rules: Array[(String, String, String)] = merges
      .select(col("rank"), col("left"), col("right"), col("merged"))
      .as[(Int, String, String, String)].collect()
      .sortBy(_._1).map(t => (t._2, t._3, t._4))
    val bc = spark.sparkContext.broadcast(rules)
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("words"))
      .as[(Long, Seq[String])]
      .map { case (id, ws) =>
        val rs = bc.value
        var nWords = 0L; var nPieces = 0L; var nChars = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            nWords += 1; nChars += w.length
            var s = toSymbols(w)
            var i = 0
            while (i < rs.length) { s = applyMerge(s, rs(i)._1, rs(i)._2, rs(i)._3); i += 1 }
            nPieces += s.length
          }
        }
        (id, nWords, nPieces, nChars)
      }.toDF("doc_id", "n_words", "n_pieces", "n_chars_in_words")
  }
}
