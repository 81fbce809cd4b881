package graft.operators

import graft.plans.BroadcastBudget

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis columns for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting. All
  * pure column expressions (codegen'd, no UDFs) with exact DuckDB-SQL
  * mirrors, so they run at scan speed over any corpus size.
  */
object TextOps {

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subtoken count: runs of letters, runs of digits, or single
    * non-space symbols. */
  def subtokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Fraction of tokens that are stopwords — a classic fluency signal. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(Stopwords.map(lit(_)): _*)))
      .cast("double") / size(toks)
  }

  /** Type-token ratio (distinct / total tokens) — repetition signal. */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    size(array_distinct(toks)).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: length saturation + lexical
    * diversity. Deterministic double arithmetic. */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / 50.0) * 0.5 +
      typeTokenRatio(text) * 0.5

  /** Marker-based language-ID heuristic: CJK codepoints → zh, then
    * function-word markers for de/fr/es, else en. On the synthetic corpus
    * (shared English vocabulary across the lang column) this
    * deterministically yields 'en' — the operator is the point, the
    * corpus just has no signal. */
  def langGuess(text: Column): Column = {
    val toks = tokens(text)
    def hasAny(ws: String*): Column =
      ws.map(w => array_contains(toks, w)).reduce(_ || _)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(hasAny("der", "die", "das", "und", "nicht"), "de")
      .when(hasAny("le", "les", "et", "est", "une"), "fr")
      .when(hasAny("el", "los", "las", "es", "una"), "es")
      .otherwise("en")
  }

  /** PII detector/redactor patterns — written in the dialect-neutral
    * regex subset (char classes, bounded repeats, `\b`, non-capturing
    * groups) valid in both Java regex (Spark codegen) and RE2 (the
    * DuckDB oracle). Real pipelines extend the set; the mechanism —
    * count + in-place redaction as pure scan-local codegen expressions,
    * zero shuffles — is the point. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-\\d{4}\\b"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Per-document PII scrub: detection counts per category plus the
    * redacted text (`[EMAIL]`/`[PHONE]`/`[IP]` placeholders). Entirely
    * scan-local — at 100 TB this is a map-only pass that pipelines into
    * whatever sink follows. */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col(textCol), lit(EmailRe)).as("n_email"),
      regexp_count(col(textCol), lit(PhoneRe)).as("n_phone"),
      regexp_count(col(textCol), lit(Ipv4Re)).as("n_ip"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), lit(EmailRe), lit("[EMAIL]")),
          lit(PhoneRe), lit("[PHONE]")),
        lit(Ipv4Re), lit("[IP]")).as("redacted"))

  /** Document fingerprint: md5 of whitespace-normalized text (md5 so the
    * oracle can reproduce it; in-engine callers can use xxhash64 for
    * speed). */
  def fingerprint(text: Column): Column =
    md5(DedupOps.normText(text))

  /** Corpus snapshot diff — the reconcile step of an incremental
    * ingest: classify every doc_id across two corpus snapshots as
    * `added` / `removed` / `changed` / `unchanged` by content
    * fingerprint. One equi-join on doc_id; fingerprints are computed
    * scan-side so only `(id, 16-byte md5)` pairs shuffle — at 100 TB
    * the snapshots' text never moves. Downstream: process only
    * `added`+`changed` (the delta), retire `removed`. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), fingerprint(col("text")).as("fp_old"))
    val n = newDocs.select(col("doc_id"), fingerprint(col("text")).as("fp_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Winnowing fingerprints (the Schleimer–Wilkerson–Aiken "local
    * algorithms" scheme, as in MOSS): hash every `k`-codepoint gram of the
    * whitespace-normalized text with a base-257 polynomial mod 2³¹−1, then
    * keep the minimum hash of every window of `w` consecutive gram hashes
    * (distinct per document). Guarantee: two documents sharing any
    * substring of length ≥ `w + k − 1` share at least one fingerprint;
    * expected density 2/(w+1) of the gram count — the rolling-hash
    * fingerprint family the `fingerprint` md5 column can't provide
    * (whole-document identity only).
    *
    * Output: `(doc_id, fp)` rows. A typed `mapPartitions`-family kernel,
    * same rationale as [[DedupOps.minhashSignatures]]: the k×n inner loop
    * is interpreted (5-30× slower) as higher-order SQL expressions. The
    * hash is deliberately simple portable integer arithmetic — the DuckDB
    * oracle recomputes it bit-for-bit. Per-doc state only: scales to any
    * corpus by partitioning on doc_id (spread gated on input parallelism —
    * see [[DedupOps.spreadByKey]]). */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.spreadByKey(docs, col("doc_id"))
      .select(col("doc_id"), DedupOps.normText(col("text")).as("t"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val cps = t.codePoints().toArray // code points match DuckDB ord()
        val n = cps.length - k + 1
        if (n <= 0) Iterator.empty
        else {
          val P = 2147483647L // 2^31 - 1
          val hashes = new Array[Long](n)
          var i = 0
          while (i < n) {
            var h = 0L
            var j = 0
            while (j < k) { h = (h * 257 + cps(i + j)) % P; j += 1 }
            hashes(i) = h
            i += 1
          }
          // Short documents (fewer than w grams) get one whole-text window.
          val nWin = math.max(1, n - w + 1)
          val out = scala.collection.mutable.LinkedHashSet.empty[Long]
          var s = 0
          while (s < nWin) {
            var m = Long.MaxValue
            var j = s
            val e = math.min(s + w, n)
            while (j < e) { if (hashes(j) < m) m = hashes(j); j += 1 }
            out += m
            s += 1
          }
          out.iterator.map(f => (id, f))
        }
      }
      .toDF("doc_id", "fp")
  }

  /** Corpus vocabulary: `(token, tf, df)` — total term frequency and
    * document frequency per whitespace token. The statistic every
    * curation pipeline derives first (stop-lists, idf weighting, rare-
    * token filters). One explode + one hash aggregation; the distinct-doc
    * count is Spark's two-phase distinct aggregate, so the shuffle keys
    * on token and nothing is ever per-corpus on one node. */
  def vocabulary(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))

  /** Integer bit length of a positive integral column:
    * `floor(log2(x)) + 1`, computed as `length(bin(x))` — pure
    * string/integer ops, exact in every engine (`log2` falls to libm and
    * can drift an ulp at power-of-two boundaries). */
  private def bitLength(x: Column): Column = length(bin(x))

  /** Unigram-LM document scoring — the CCNet-style "how surprising is
    * this document under the corpus unigram model" quality proxy, in
    * exact integer arithmetic. Per-token surprisal is the bit-length gap
    * `floor(log2(total)) - floor(log2(tf))` — a whole-bit surrogate for
    * `-log2 p(tok) = log2(total) - log2(tf)`, within 1 bit of the real
    * value per token; like [[topTerms]]' raw-ratio idf, the integer form
    * is chosen so the score is bit-identical across engines and the
    * oracle check stays exact. Low mean surprisal = boilerplate /
    * frequent-token text; high = rare-token-heavy (OOV-ish) text — the
    * two tails a perplexity filter trims.
    *
    * Output `(doc_id, n_tokens, surprisal_bits, mean_surprisal)`.
    *
    * Plan shape: one explode, one token aggregation, a token join (AQE
    * broadcasts the vocabulary when small; otherwise a shuffle join keyed
    * on token — never per-corpus on a node), one per-doc aggregation.
    * Driver state is the single total-token scalar. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    // Persist barrier: toks feeds the vocabulary, the total count, and
    // the scoring join — left lazy, tokenize+explode would run per branch
    // (the measured CollapseProject cliff).
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .transform(CacheScope.persistTracked)
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = toks.count()
    val surprisal = bitLength(lit(total)) - bitLength(col("tf"))
    toks.join(vocab, "token")
      .select(col("doc_id"), surprisal.cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("surprisal_bits"))
      .withColumn("mean_surprisal",
        col("surprisal_bits").cast("double") / col("n_tokens").cast("double"))
  }

  /** Token-id encoding — the vocab-build + encode step that turns curated
    * text into the integer sequences a training pipeline packs into
    * context windows. The vocabulary is the `vocabSize` most frequent
    * tokens (ties broken lexicographically, so the id assignment is
    * deterministic and engine-independent); out-of-vocabulary tokens
    * encode as -1. Output `(doc_id, token_ids, n_tokens, n_oov)` with
    * `token_ids` ordered by token position.
    *
    * Plan shape: one explode + token aggregation for counts, a
    * distributed top-`vocabSize` cut (TakeOrdered — partial top-K per
    * partition, only `vocabSize` rows ever reach the driver), id
    * assignment by a window over the CAPPED vocab (a model-sized
    * artifact like the IVF codebook — bounded by contract, not by data),
    * then an explicitly-broadcast id join and one per-doc aggregation.
    * At 100 TB: the corpus is scanned twice (count + encode) and shuffled
    * on token and doc_id once each; nothing data-sized converges on a
    * single node. */
  def tokenizeEncode(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .transform(CacheScope.persistTracked)
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc).limit(vocabSize)
    val vids = vocab.withColumn("token_id",
      (row_number().over(Window.orderBy(col("tf").desc, col("token").asc)) - 1).cast("int"))
    toks.join(broadcast(vids.select(col("token"), col("token_id"))), Seq("token"), "left")
      .withColumn("token_id", coalesce(col("token_id"), lit(-1)))
      .groupBy(col("doc_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("token_id")))),
          x => x("token_id")).as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id") === -1, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Fixed-size token-window chunking with overlap — the context/RAG
    * prep step that cuts each document into windows of `chunkTokens`
    * tokens advancing by `chunkTokens - overlapTokens`. Output
    * `(doc_id, chunk_id, n_tokens, text_chunk)`; the final window may be
    * shorter; empty/whitespace-only documents emit nothing.
    *
    * Pure codegen'd column expressions (split → sequence of window
    * starts → posexplode → slice/join) — zero shuffle, scan-speed at any
    * corpus size. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlapTokens < chunkTokens, got chunk=$chunkTokens overlap=$overlapTokens")
    val stride = chunkTokens - overlapTokens
    docs
      .select(col("doc_id"), filter(tokens(col("text")), t => t =!= "").as("w"))
      // window starts 0, stride, 2*stride, ... while start < n
      .withColumn("starts", expr(
        s"CASE WHEN size(w) = 0 THEN array() " +
        s"ELSE transform(sequence(0, (size(w) - 1) div $stride), i -> i * $stride) END"))
      .select(col("doc_id"), col("w"), posexplode(col("starts")).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("w"), col("start") + 1, lit(chunkTokens))).as("n_tokens"),
        array_join(slice(col("w"), col("start") + 1, lit(chunkTokens)), " ").as("text_chunk"))
  }

  /** Bigram-LM document scoring — the conditional upgrade of
    * [[unigramSurprisal]], in the same exact integer bit arithmetic.
    * Per-bigram surprisal is `floor(log2 c(prev)) - floor(log2
    * c(prev,tok))`, the whole-bit surrogate for `-log2 p(tok|prev)`;
    * `c(prev)` is the count of `prev` as a bigram context (sum of its
    * outgoing bigram counts), so the model is self-consistent over
    * bigram occurrences. Documents with < 2 tokens have no bigrams and
    * drop out (nothing to condition on).
    *
    * Plan shape: bigrams build directly from each document's token array
    * (`zip_with` of the two shifted slices — no positional self-join),
    * then one (prev,tok) aggregation, a context roll-up, and two
    * equi-joins keyed on the bigram/context (AQE broadcasts small
    * vocabularies; never a per-node corpus pass). */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val w = filter(tokens(col("text")), t => t =!= "")
    val n1 = greatest(size(w) - 1, lit(0))
    val bi = docs.select(col("doc_id"), explode(zip_with(
        slice(w, lit(1), n1), slice(w, lit(2), n1),
        (a, b) => struct(a.as("prev"), b.as("tok")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
      .transform(CacheScope.persistTracked)
    val c2 = bi.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    bi.join(c2, Seq("prev", "tok")).join(c1, Seq("prev"))
      .select(col("doc_id"), (bitLength(col("c1")) - bitLength(col("c2"))).cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("surprisal_bits"))
      .withColumn("mean_surprisal",
        col("surprisal_bits").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Redaction patterns applied in order: emails first (their local parts
    * contain digit runs), then IPv4 (dotted digits would otherwise feed
    * the phone pattern), then card/account-shaped 13-19-digit runs
    * (before phones — a 16-digit card is also a valid phone-pattern
    * match), then phone-shaped numbers. Patterns stay in the portable
    * common subset of Java regex and RE2 — no lookaround — so the DuckDB
    * oracle applies the identical expressions. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("\\d{13,19}", "<NUMBER>"),
    ("\\+?\\d{3}[- ]?\\d{3,4}[- ]?\\d{4}", "<PHONE>"))

  /** PII-redacted text: every [[PiiPatterns]] match replaced by its typed
    * placeholder. A pure `regexp_replace` chain — codegen'd, scan speed,
    * the shape of every at-scale PII scrub (entity-model NER would slot
    * in as a downstream pass, not a replacement for the regex floor). */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (re, tag)) => regexp_replace(t, re, tag) }

  /** Per-document redaction report: counts per PII class (counted on the
    * progressively redacted text, same order as [[redactPii]], so an
    * email's digits are never also a "phone") plus the redacted text's
    * fingerprint. */
  def piiStats(docs: DataFrame): DataFrame = {
    // Column names derive from the tags ("<EMAIL>" -> n_emails), so a
    // pattern added to PiiPatterns is automatically counted — a separate
    // name list would silently desync the counts from the redaction.
    val (cols, _) = PiiPatterns.foldLeft((Seq.empty[Column], col("text"))) {
      case ((acc, t), (re, tag)) =>
        val name = "n_" + tag.stripPrefix("<").stripSuffix(">").toLowerCase + "s"
        (acc :+ size(regexp_extract_all(t, lit(re), lit(0))).as(name), regexp_replace(t, re, tag))
    }
    docs.select(col("doc_id") +: cols :+ md5(redactPii(col("text"))).as("redacted_fp"): _*)
  }

  /** Per-document top-`k` keywords by tf-idf. The idf factor is the raw
    * ratio `N/df` rather than the textbook `ln(N/df)`: multiplication and
    * division are exactly-rounded IEEE operations, so the score — and
    * therefore the ranking — is bit-identical across engines and the
    * oracle check stays exact (`ln` falls to each engine's libm and can
    * differ in the last ulp, flipping near-tie ranks). Within a document
    * both variants are monotone in tf and anti-monotone in df; ties break
    * on the token.
    *
    * Plan shape: one explode, two hash aggregations, a token join (AQE
    * broadcasts it when the vocabulary is small), a per-doc rank window —
    * every stage keyed, nothing driver-side except the corpus count. */
  def topTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    // Persist barrier: toks fans out into the tf and df branches — left
    // lazy, the tokenize+explode (and the whole upstream of `docs`)
    // would execute once per branch (the measured CollapseProject cliff).
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .transform(CacheScope.persistTracked)
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("token")).agg(count_distinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("score", col("tf").cast("double") * (lit(n.toDouble) / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** Deterministic train/val/test split assignment: every row gets a
    * `split` label from the first 8 hex digits of `md5(key)` mapped onto
    * a fixed 10⁶-bucket grid cut at the cumulative weights. No RNG —
    * the same key lands in the same split on every run, any cluster
    * size, and any corpus ordering (the reproducibility property
    * `rand()`-based sampling can't give a growing corpus), and the
    * column is a pure codegen'd expression, so assignment happens at
    * scan speed with no shuffle at all. */
  def assignSplits(docs: DataFrame,
      weights: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      keyCol: String = "doc_id"): DataFrame =
    docs.withColumn("split", splitColumn(col(keyCol), weights))

  /** The split-label expression behind [[assignSplits]], exposed so the
    * SQL surface (`split_assign(key)`) shares the identical composition. */
  def splitColumn(key: Column,
      weights: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got $weights")
    val bucket = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    // round, not truncate: 0.7*1e6 is 699999.9999… in binary — toLong
    // would shift the advertised cut by one bucket.
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail.map(w => math.round(w * 1000000L))
    weights.zip(cuts).init.foldRight(lit(weights.last._1): Column) {
      case (((name, _), cut), acc) => when(bucket < lit(cut), lit(name)).otherwise(acc)
    }
  }

  /** Array of all `n`-token grams of `text`, each a struct of `n`
    * consecutive whitespace tokens — built entirely from codegen'd
    * collection expressions (`arrays_zip` over `n` shifted slices), no
    * higher-order lambda and no kernel, so gram construction stays
    * inside whole-stage codegen at scan speed. */
  def ngramArray(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    val t = tokens(text)
    // Clamped at 0: a sub-n-token document yields zero-length slices and
    // an empty gram array (slice rejects negative lengths under ANSI).
    val m = greatest(size(t) - (n - 1), lit(0))
    arrays_zip((1 to n).map(i => slice(t, lit(i), m)): _*)
  }

  /** `(doc_id, gram)` rows: every `n` consecutive whitespace tokens
    * joined by a single space. Raw gram strings as keys (not hashes) so
    * the DuckDB oracle reproduces them exactly and downstream joins are
    * collision-free. */
  def tokenNgrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(ngramArray(col("text"), n)).as("g"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(i => col("g").getField(i.toString)): _*).as("gram"))

  /** Benchmark decontamination report: for every corpus document, the
    * total `n`-gram count and how many of those grams appear anywhere in
    * the evaluation set — the overlap check every serious training run
    * performs against its benchmark suites before training (the
    * GPT-3/PaLM-style n-gram collision rule).
    *
    * Scale shape: the eval side (benchmarks, a few MB even when the
    * corpus is 100 TB) collapses to a distinct gram set and is
    * **broadcast**; the corpus is one scan producing grams that
    * partial-aggregate map-side down to two counters per document. No
    * corpus-side shuffle of gram rows beyond the per-doc aggregation,
    * no driver-side data. */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame, n: Int = 3): DataFrame = {
    val evalGrams = tokenNgrams(evalSet, n)
      .select(col("gram")).distinct().withColumn("hit", lit(1))
    val counted = tokenNgrams(corpus, n)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
    // Every corpus document gets a row: a sub-n-token doc has no grams,
    // and "0 grams checked" must stay distinguishable from "missing from
    // the report" (a consumer computing scan coverage would silently
    // lose those docs). One extra doc_id-only column scan.
    corpus.select(col("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** [[contaminationReport]] with a Bloom-filter prefilter — the shape
    * that survives when the eval-gram set itself is too large to
    * broadcast as strings (stacked benchmark suites reach GBs of distinct
    * grams; a 1%-fpp Bloom over the same set is ~1.2 MB per million
    * grams). The sketch is built distributed (`stat.bloomFilter`
    * tree-aggregates per-partition filters), broadcast once, and probed
    * inside the corpus scan; only grams the sketch *might* contain — true
    * hits plus the fpp sliver — reach the exact verify join, which then
    * runs as a plain shuffle equi-join of two small sides instead of a
    * broadcast of the full eval set. False positives are eliminated by
    * the verify join, so the report is bit-identical to the exact
    * operator (same oracle SQL); per-doc totals come from `ngramArray`
    * sizes computed at scan speed with no join at all.
    *
    * `expectedGrams` sizes the sketch when the caller knows the eval
    * cardinality; pass 0 (default) to spend one count job on it. */
  def contaminationReportBloom(corpus: DataFrame, evalSet: DataFrame, n: Int = 3,
      fpp: Double = 0.01, expectedGrams: Long = 0L): DataFrame = {
    val spark = corpus.sparkSession
    val evalGrams = tokenNgrams(evalSet, n).select(col("gram")).distinct()
    val expected = if (expectedGrams > 0) expectedGrams
      else math.max(evalGrams.count(), 1L)
    // ~1.2 MB per 1M grams at 1% fpp; refuse sketches that would not fit
    // the same broadcast budget the exact path is held to.
    BroadcastBudget.requireFits(expected * 10 / 8, s"the Bloom sketch of $expected eval grams",
      "shard the eval set.", spark.sessionState.conf)
    val bloom = evalGrams.stat.bloomFilter("gram", expected, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bloomB.value.mightContainString(g))
    val hits = tokenNgrams(corpus, n)
      .filter(mightContain(col("gram")))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_hits"))
    corpus.select(col("doc_id"),
        size(ngramArray(col("text"), n)).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Intra-document repetition stats (the Gopher-style repeated-n-gram
    * gate): per document, total and distinct `n`-gram counts and the
    * duplicate fraction. Pure codegen'd expressions over [[ngramArray]]
    * — no shuffle at all; documents with fewer than `n` tokens report
    * zero grams and a 0.0 fraction. */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = ngramArray(col("text"), n)
    docs.select(
        col("doc_id"),
        size(grams).as("n_grams"),
        size(array_distinct(grams)).as("n_distinct"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))
  }

  /** Deterministic per-stratum downsampling — the domain-mixing step of
    * a training-data pipeline ("keep 100% of wiki, 25% of web"): a row
    * survives iff its salted hash bucket falls under its stratum's
    * threshold. Same md5-grid determinism argument as [[assignSplits]];
    * the salt decorrelates the sampling decision from split assignment
    * (the same key must not systematically land in `train` AND survive
    * sampling). Thresholds are precomputed longs — no float-to-int cast
    * whose rounding could disagree across engines. Pure codegen'd
    * filter: scan speed, no shuffle. */
  def sampleByStratum(docs: DataFrame, rates: Map[String, Double], defaultRate: Double,
      stratumCol: String = "source", keyCol: String = "doc_id"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0,1], got $rates default $defaultRate")
    val bucket = conv(substring(md5(concat(col(keyCol).cast("string"), lit(":strat"))), 1, 8), 16, 10)
      .cast("long") % 1000000L
    val threshold = rates.toSeq.sortBy(_._1).foldRight(lit(math.round(defaultRate * 1000000L)): Column) {
      case ((stratum, r), acc) =>
        when(col(stratumCol) === stratum, lit(math.round(r * 1000000L))).otherwise(acc)
    }
    docs.filter(bucket < threshold)
  }

  /** Deterministic fractional upsampling — the "epochs per source" knob
    * of a training mixture ("see wiki 2.5×, web 1×"): every row is
    * repeated `floor(f)` times, plus one more when its salted hash bucket
    * falls under `frac(f)` — so expected multiplicity is exactly `f`, the
    * decision is per-key reproducible (same row always gets the same
    * count), and a `copy` index column disambiguates the repeats.
    * Downsampling composes: `f < 1` keeps a row with probability `f`
    * ([[sampleByStratum]] is the `f ≤ 1` special case with its own salt).
    * Pure codegen'd `explode(sequence(...))` — no shuffle, no RNG, scales
    * as a scan. */
  def resampleByWeight(docs: DataFrame, weights: Map[String, Double], defaultWeight: Double = 1.0,
      stratumCol: String = "source", keyCol: String = "doc_id"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      s"weights must be >= 0, got $weights default $defaultWeight")
    val bucket = conv(substring(md5(concat(col(keyCol).cast("string"), lit(":resample"))), 1, 8), 16, 10)
      .cast("long") % 1000000L
    def copiesOf(f: Double): Column = {
      val whole = math.floor(f).toLong
      val fracCut = math.round((f - whole) * 1000000L)
      lit(whole) + when(bucket < fracCut, 1L).otherwise(0L)
    }
    val nCopies = weights.toSeq.sortBy(_._1).foldRight(copiesOf(defaultWeight)) {
      case ((stratum, f), acc) => when(col(stratumCol) === stratum, copiesOf(f)).otherwise(acc)
    }
    // sequence(1, 0) DESCENDS in Spark — rows with zero copies need an
    // explicit empty array so explode drops them.
    docs.withColumn("copy",
      explode(when(nCopies >= 1L, sequence(lit(1L), nCopies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Deterministic training-shard assignment: every row gets a `shard`
    * in [0, nShards) and an `ord` — a second, independently-salted hash
    * that defines a reproducible pseudo-random interleave order within
    * each shard (the "globally shuffled" read order a trainer wants,
    * without `rand()` and without a global sort: ordering by a hash IS a
    * shuffle of the key space). Both pure codegen'd expressions;
    * [[writeTrainingShards]] turns them into files with exactly one
    * shuffle. */
  def shardForTraining(docs: DataFrame, nShards: Int, keyCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    def grid(salt: String): Column =
      conv(substring(md5(concat(col(keyCol).cast("string"), lit(salt))), 1, 8), 16, 10)
        .cast("long")
    docs.withColumn("shard", (grid(":shard") % nShards).cast("int"))
      .withColumn("ord", grid(":order"))
  }

  /** Write the corpus as training shards: one shuffle (repartition on
    * `shard`), hash-interleaved order within each file via
    * `sortWithinPartitions` (local spillable sort, no global exchange),
    * one parquet directory per shard. */
  def writeTrainingShards(docs: DataFrame, path: String, nShards: Int): Unit =
    shardForTraining(docs, nShards)
      .repartition(nShards, col("shard"))
      // shard leads the sort so the partitioned writer's required
      // ordering (partition columns first) is already satisfied — without
      // it the write path inserts its own shard-only sort and the ord
      // order inside each file is lost.
      .sortWithinPartitions(col("shard"), col("ord"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Line-level (chunk-level) dedup — the CCNet/RefinedWeb preprocessing
    * step that strips boilerplate by dropping every text segment whose
    * exact normalized form appears in more than `maxDf` distinct
    * documents (headers, footers, nav chrome dominate a crawl's byte
    * count and repeat across pages while real prose doesn't). Segments
    * here are fixed `chunkWords`-word windows of the normalized token
    * stream (the corpus has no newlines; a real crawl would split on
    * them — same plan shape either way). Output: one row per input doc
    * with the reassembled `text_clean` (empty when everything was
    * boilerplate), `n_kept`, `n_dropped`.
    *
    * Plan: chunk explode → one df aggregation keyed by chunk text (key
    * cardinality ~ corpus vocabulary of segments, uniformly hashable,
    * grows with data — no broadcast, no skew hot-spot beyond the
    * boilerplate chunks themselves, which are exactly the rows this op
    * deletes) → join back → per-doc ordered reassembly. Three
    * exchanges, all keyed, no driver state. */
  def lineDedup(docs: DataFrame, maxDf: Int = 1, chunkWords: Int = 20): DataFrame = {
    require(maxDf >= 1 && chunkWords >= 1, s"bad lineDedup params ($maxDf, $chunkWords)")
    val w = tokens(col("text"))
    val chunks = docs
      .select(col("doc_id"), w.as("w"))
      // CASE guard: a 0-token doc would make the sequence upper bound -1,
      // and sequence(0,-1) is the DESCENDING [0,-1] — two phantom chunks.
      // (Unreachable via tokens(), which never yields an empty array, but
      // the kernel must hold for any caller; matches the oracle's
      // range(0, ceil(len/chunk)) = empty.)
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(w) = 0 THEN array() ELSE " +
        s"transform(sequence(0, (size(w) + ${chunkWords - 1}) div $chunkWords - 1), " +
        s"i -> concat_ws(' ', slice(w, i * $chunkWords + 1, $chunkWords))) END")))
      .toDF("doc_id", "idx", "chunk")
    val dfs = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = chunks.join(dfs, "chunk").filter(col("df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    val total = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_total"))
    total.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Context-window packing assignment — the concat-and-chunk layout LLM
    * pretraining uses: documents are laid out in the deterministic
    * hash-interleaved order of [[shardForTraining]], each shard's token
    * stream is cut into fixed `budget`-token context windows, and every
    * document learns which window its first token lands in
    * (`pack_id`, globally unique as `shard * ceil(shardTokens/budget) +
    * window` would be — emitted per-shard here so ids are stable under
    * corpus growth in OTHER shards) and at what offset (`pack_offset`;
    * a long document spans into subsequent windows). One exchange —
    * the window partition on `shard` — then a running sum; no RNG, so
    * the layout is reproducible at any parallelism and any corpus
    * growth only appends within shards. */
  def packAssignments(docs: DataFrame, budget: Int, nShards: Int = 8): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    shardForTraining(docs, nShards)
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("pack_id"),
        ((col("cum") - col("n_tokens")) % budget).cast("int").as("pack_offset"))
  }

  /** One-pass curation pipeline — the composite a training-data run
    * executes per corpus snapshot: score every document, keep one
    * representative per exact-duplicate group (minimum doc_id over the
    * normalized-text fingerprint), and keep representatives passing the
    * quality and language gates. Stats are identical across exact copies
    * (they derive from the normalized text), so gate-then-dedup and
    * dedup-then-gate agree. Plan shape: scan-speed stats projection, one
    * fingerprint aggregation, one semi join — two shuffles total,
    * partial-aggregated map-side, nothing driver-side. */
  def curate(docs: DataFrame, minQuality: Double = 0.5, lang: String = "en"): DataFrame = {
    val s = stats(docs)
    val rep = s.groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
    s.join(rep, Seq("fingerprint", "doc_id"), "left_semi")
      .filter(col("quality_score") >= minQuality && col("lang_guess") === lang)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
  }

  /** The full stats projection over a documents table. */
  def stats(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      tokenCount(t).as("n_tokens"),
      subtokenCount(t).as("n_subtokens"),
      length(t).as("n_chars"),
      punctCount(t).as("n_punct"),
      stopwordRatio(t).as("stopword_ratio"),
      typeTokenRatio(t).as("type_token_ratio"),
      qualityScore(t).as("quality_score"),
      langGuess(t).as("lang_guess"),
      fingerprint(t).as("fingerprint"))
  }
}
