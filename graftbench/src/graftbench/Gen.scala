package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * `(seed, row id, salt)`, so the same seed gives the same tables on any
  * partitioning, and the ground truth the checks need (aligned bases,
  * injected mismatches, injected near-duplicates) is known by
  * construction. */
object Gen {

  def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** 64 random bits for row `id` of stream `salt`. */
  def bits(seed: Long, id: Long, salt: Long): Long =
    mix64(seed * 0x9e3779b97f4a7c15L + mix64(id * 0xbf58476d1ce4e5b9L + salt))

  /** Uniform in [0, 1). */
  def unif(seed: Long, id: Long, salt: Long): Double =
    (bits(seed, id, salt) >>> 11) / (1L << 53).toDouble

  def below(seed: Long, id: Long, salt: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(bits(seed, id, salt), n)

  val Bases = "ACGT"

  /** Non-negative 32-bit hash of a row's `cols`. */
  def rowHash(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(xxhash64(cols.map(col): _*), lit(4294967291L))
  }

  /** Order-independent checksum of `cols` over all rows; cannot overflow. */
  def checksum(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    coalesce(sum(rowHash(cols)), lit(0L))
  }

  /** Digest of a whole table. */
  def digest(df: DataFrame): Long = df.agg(checksum(df.columns.toSeq)).head().getLong(0)

  /** The engine's mock reference: `ACGT[(ascii(contig) + pos) mod 4]`. */
  def refBase(contig: String, pos: Int): Char = Bases((contig.charAt(0).toInt + pos) % 4)

  // ---- reads ---------------------------------------------------------

  /** Read layout. A `hotFactor`-times-deeper hotspot covers the first
    * `hotFrac × contigs` of contig "1" (10 % of the genome at the
    * defaults), every `spliceEvery`-th read is spliced (`aM gN bM`), and a
    * `mismatchRate` share carries one base that differs from the mock
    * reference, recorded in MD and SEQ. */
  case class ReadSpec(n: Long, contigs: Int = 8, contigLen: Int = 1000000,
      hotFactor: Double = 10.0, hotFrac: Double = 0.1, spliceEvery: Int = 5,
      mismatchRate: Double = 0.3, parts: Int = 8) {
    def contigName(i: Int): String = (i + 1).toString
    /** Length of the hotspot on contig "1". */
    def hotLen: Int = math.min(contigLen, (hotFrac * contigs * contigLen).toInt)
    /** Share of reads placed in the hotspot so its depth is
      * `hotFactor` times the depth elsewhere. */
    def hotShare: Double = hotFactor * hotFrac / (hotFactor * hotFrac + (1 - hotFrac))
  }

  val readSchema: StructType = StructType(Seq(
    StructField("qname", StringType, nullable = false),
    StructField("read_id", LongType, nullable = false),
    StructField("contig", StringType, nullable = false),
    StructField("pos_start", IntegerType, nullable = false),
    StructField("pos_end", IntegerType, nullable = false),
    StructField("mapq", IntegerType, nullable = false),
    StructField("flag", IntegerType, nullable = false),
    StructField("cigar", StringType, nullable = false),
    StructField("seq", StringType, nullable = false),
    StructField("qual_str", StringType, nullable = false),
    StructField("md_tag", StringType, nullable = false),
    StructField("n_aligned", IntegerType, nullable = false),
    StructField("n_mismatch", IntegerType, nullable = false)))

  /** One read: every column of [[readSchema]]. */
  def read(spec: ReadSpec, seed: Long, i: Long, withBases: Boolean): Row = {
    val hot = unif(seed, i, 1) < spec.hotShare
    val contig = if (hot) spec.contigName(0) else spec.contigName(below(seed, i, 2, spec.contigs).toInt)
    val len = 50 + below(seed, i, 3, 101).toInt
    val spliced = spec.spliceEvery > 0 && i % spec.spliceEvery == 0
    val a = if (spliced) len / 3 else len
    val gap = if (spliced) 50 + below(seed, i, 4, 200).toInt else 0
    val span = len + gap
    val region = if (hot) spec.hotLen else spec.contigLen
    val start = 1 + below(seed, i, 5, region - span).toInt
    val end = start + span - 1
    val cigar = if (spliced) s"${a}M${gap}N${len - a}M" else s"${len}M"
    val mm = unif(seed, i, 6) < spec.mismatchRate
    def refPos(off: Int): Int = start + off + (if (off >= a) gap else 0)
    val off = below(seed, i, 7, len).toInt
    var seq = ""
    var qual = ""
    var md = len.toString
    if (withBases) {
      val sb = new java.lang.StringBuilder(len)
      val qb = new java.lang.StringBuilder(len)
      var k = 0
      var q = bits(seed, i, 8)
      while (k < len) {
        sb.append(refBase(contig, refPos(k)))
        qb.append((33 + 10 + java.lang.Long.remainderUnsigned(q, 31)).toChar)
        q = mix64(q)
        k += 1
      }
      if (mm) {
        val r = Bases.indexOf(refBase(contig, refPos(off)))
        sb.setCharAt(off, Bases((r + 1 + below(seed, i, 9, 3).toInt) % 4))
        md = s"$off${refBase(contig, refPos(off))}${len - off - 1}"
      }
      seq = sb.toString
      qual = qb.toString
    }
    Row(s"r$i", i, contig, start, end, 60, 0, cigar, seq, qual, md, len, if (mm) 1 else 0)
  }

  def reads(spark: SparkSession, spec: ReadSpec, seed: Long, withBases: Boolean): DataFrame = {
    val rdd = spark.sparkContext.range(0L, spec.n, 1, spec.parts)
      .mapPartitions(_.map(i => read(spec, seed, i, withBases)))
    spark.createDataFrame(rdd, readSchema)
  }

  // ---- interval catalogues -------------------------------------------

  /** `n` features of length `minLen..maxLen`, uniform over the contigs of
    * `reads`, keyed by `keyCol`. */
  case class CatalogSpec(n: Long, minLen: Int, maxLen: Int, parts: Int = 8)

  /** Feature `i`: `(contig, pos_start, pos_end)`. */
  def feature(spec: CatalogSpec, reads: ReadSpec, seed: Long, i: Long): (String, Int, Int) = {
    val len = spec.minLen + below(seed, i, 11, spec.maxLen - spec.minLen + 1).toInt
    val start = 1 + below(seed, i, 12, reads.contigLen - len).toInt
    (reads.contigName(below(seed, i, 13, reads.contigs).toInt), start, start + len - 1)
  }

  def catalog(spark: SparkSession, spec: CatalogSpec, reads: ReadSpec, seed: Long,
      keyCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(keyCol, LongType, nullable = false),
      StructField("contig", StringType, nullable = false),
      StructField("pos_start", IntegerType, nullable = false),
      StructField("pos_end", IntegerType, nullable = false)))
    val rdd = spark.sparkContext.range(0L, spec.n, 1, spec.parts).mapPartitions(_.map { i =>
      val (c, s, e) = feature(spec, reads, seed, i)
      Row(i, c, s, e)
    })
    spark.createDataFrame(rdd, schema)
  }

  // ---- documents -----------------------------------------------------

  /** `n` documents of 40–60 tokens from a skewed `vocab`-word
    * vocabulary. A `dupRate` share are near-duplicates: a copy of an
    * earlier original with the last token replaced, which keeps 3-shingle
    * Jaccard at or above 37/39. Ids start at `idBase`; originals for
    * near-duplicates are drawn from `[0, sourceN)`. */
  case class DocSpec(n: Long, dupRate: Double = 0.1, vocab: Int = 50000,
      idBase: Long = 0L, sourceN: Long = -1L, parts: Int = 8)

  def baseTokens(seed: Long, id: Long, vocab: Int): Array[String] = {
    val m = 40 + below(seed, id, 21, 21).toInt
    Array.tabulate(m) { j =>
      val u = unif(seed, id * 64 + j, 22)
      "w" + (u * u * vocab).toLong
    }
  }

  /** Whether doc `id` is an original (never a near-duplicate). */
  def isOriginal(spec: DocSpec, seed: Long, id: Long): Boolean =
    id == spec.idBase || unif(seed, id, 23) >= spec.dupRate

  /** The original doc `id` copies, or -1 when it is an original. */
  def sourceOf(spec: DocSpec, seed: Long, id: Long): Long =
    if (isOriginal(spec, seed, id)) -1L
    else {
      val srcSpec = if (spec.sourceN > 0) spec.copy(idBase = 0L) else spec
      val range = if (spec.sourceN > 0) spec.sourceN else id - spec.idBase
      Iterator.range(0, 16).map { t =>
        (if (spec.sourceN > 0) 0L else spec.idBase) + below(seed, id * 16 + t, 24, range)
      }.find(j => isOriginal(srcSpec, seed, j)).getOrElse(-1L)
    }

  def docText(spec: DocSpec, seed: Long, id: Long): String = {
    val src = sourceOf(spec, seed, id)
    if (src < 0) baseTokens(seed, id, spec.vocab).mkString(" ")
    else {
      val t = baseTokens(seed, src, spec.vocab)
      t(t.length - 1) = s"x$id"
      t.mkString(" ")
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docs(spark: SparkSession, spec: DocSpec, seed: Long): DataFrame = {
    val rdd = spark.sparkContext.range(spec.idBase, spec.idBase + spec.n, 1, spec.parts)
      .mapPartitions(_.map(i => Row(i, docText(spec, seed, i))))
    spark.createDataFrame(rdd, docSchema)
  }

  /** Injected (near-duplicate, original) pairs — computed on the driver. */
  def injectedPairs(spec: DocSpec, seed: Long): Seq[(Long, Long)] =
    (spec.idBase until spec.idBase + spec.n).iterator
      .map(i => (i, sourceOf(spec, seed, i))).filter(_._2 >= 0).toSeq

  // ---- embeddings ----------------------------------------------------

  /** `n` `dim`-d vectors around `clusters` seeded centres (noise `sigma`
    * per coordinate), ids from `idBase`. */
  case class VecSpec(n: Long, dim: Int = 64, clusters: Int = 64, sigma: Double = 0.35,
      idBase: Long = 0L, parts: Int = 8)

  def vector(spec: VecSpec, seed: Long, id: Long): Array[Float] = {
    val c = below(seed, id, 31, spec.clusters)
    val rnd = new java.util.Random(bits(seed, id, 32))
    Array.tabulate(spec.dim) { j =>
      val centre = unif(seed, c * 1024 + j, 33) * 2 - 1
      (centre + rnd.nextGaussian() * spec.sigma).toFloat
    }
  }

  def vectors(spark: SparkSession, spec: VecSpec, seed: Long): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rdd = spark.sparkContext.range(spec.idBase, spec.idBase + spec.n, 1, spec.parts)
      .mapPartitions(_.map(i => Row(i, vector(spec, seed, i).toSeq)))
    spark.createDataFrame(rdd, schema)
  }
}
