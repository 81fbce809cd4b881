package graft.sources

import graft.functions.RangeFunctions

import java.nio.charset.StandardCharsets

/** Sidecar indexing for EXTERNALLY-produced bgzip text corpora (S7/P4's
  * last gap): the engine's own `.vcf.gz`/`.sam.gz` shards are written
  * line-aligned with `.gvi` member envelopes, but third-party files come
  * from the `bgzip` CLI, which cuts BGZF members mid-line and ships no
  * envelope. [[indexFiles]] builds the same `.gvi` sidecars for those
  * files — one distributed task per file, one streaming pass per task —
  * so region queries prune foreign corpora exactly like engine output
  * (the role `tabix -p vcf` plays for the reference ecosystem).
  *
  * Envelope semantics for mid-line cuts: a line BELONGS to the member
  * where it STARTS. Each `.gvi` entry carries a 6th field `lead` — the
  * inflated-byte offset of the first line starting in that member — and
  * the pruned reader inflates forward across member boundaries to finish
  * a spanning final line. Members where no line starts (headers,
  * continuation-only middles of a long line) carry no entry; their bytes
  * are reached through the owning member's continuation read. Engine-
  * written 5-field sidecars read as `lead = 0` (line-aligned), so the
  * two formats share one reader.
  */
object GraftIndexer {

  /** Build `.gvi` envelopes for every BGZF `.gz` file matched by `path`
    * that lacks one (`overwrite = true` rebuilds unconditionally).
    * `format` picks the line grammar: `"vcf"` (contig f0, pos f1, end =
    * pos + len(REF f3) − 1, '#' comments) or `"sam"` (contig f2, pos f3,
    * end from the CIGAR f5 reference-consumed length, '@' comments).
    * Returns the number of files indexed. Fails loudly on a `.gz` that
    * is not BGZF (plain gzip is unsplittable — no envelope can help). */
  def indexFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String, overwrite: Boolean = false): Long = {
    require(format == "vcf" || format == "sam" || format == "gff",
      s"GraftIndexer: unknown format '$format' (want vcf|sam|gff)")
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files = SourceUtil.listDataFiles(fs, path, ".gz")
      .filter(st => overwrite || !fs.exists(VcfFormat.gviPath(st.getPath)))
    if (files.isEmpty) return 0L
    val taskConf = SourceUtil.taskConf(spark.sparkContext)
    val fmt = format
    val work = files.map(st => (st.getPath.toString, st.getLen))
    spark.sparkContext.parallelize(work, work.length).map { case (file, len) =>
      val hp = new HPath(file)
      val tfs = hp.getFileSystem(taskConf.value.value)
      val in = tfs.open(hp)
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        tfs.create(VcfFormat.gviPath(hp), true), StandardCharsets.UTF_8))
      try indexOne(in, len, fmt, out) finally { out.close(); in.close() }
      1L
    }.sum().toLong
  }

  /** Build STANDARD tabix `.tbi` indexes for every bgzip file matched by
    * `path` that lacks one — the inverse of the engine's `.tbi`
    * consumption: samtools/htslib/IGV can then region-query
    * engine-written (or any) `.vcf.gz` directly, the role `tabix -p vcf`
    * plays for the reference ecosystem. One distributed task per file,
    * one streaming member pass per task; returns files indexed.
    *
    * Bins follow the spec exactly (reg2bin over 0-based half-open record
    * spans, linear index at 16 kb); chunks merge when adjacent. Input
    * should be coordinate-sorted per file for external-tool compatibility
    * (htslib binary-searches the linear index); the ENGINE's own reader
    * ([[VcfFormat.prunedRawImpl]]) stays correct on unsorted files
    * because it merges chunk ranges and re-applies every predicate. */
  def tabixFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String, overwrite: Boolean = false): Long =
    standardIndexFiles(spark, path, format, overwrite, csi = false)

  /** [[tabixFiles]]'s CSI twin: writes standard `.csi` v1 indexes
    * (min_shift 14, depth 5 — numerically identical bins, the layout
    * bcftools emits by default) for bgzip text files lacking one. */
  def csiFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String, overwrite: Boolean = false): Long =
    standardIndexFiles(spark, path, format, overwrite, csi = true)

  private def standardIndexFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, format: String, overwrite: Boolean, csi: Boolean): Long = {
    require(format == "vcf" || format == "sam" || format == "gff",
      s"GraftIndexer: unknown format '$format' (want vcf|sam|gff)")
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val suffix = if (csi) ".csi" else ".tbi"
    val files = SourceUtil.listDataFiles(fs, path, ".gz")
      .filter(st => overwrite ||
        !fs.exists(new HPath(st.getPath.toString + suffix)))
    if (files.isEmpty) return 0L
    val taskConf = SourceUtil.taskConf(spark.sparkContext)
    val fmt = format
    val asCsi = csi
    val work = files.map(st => (st.getPath.toString, st.getLen))
    spark.sparkContext.parallelize(work, work.length).map { case (file, len) =>
      val hp = new HPath(file)
      val tfs = hp.getFileSystem(taskConf.value.value)
      val in = tfs.open(hp)
      val out = tfs.create(new HPath(file + suffix), true)
      try tabixOne(in, len, fmt, out, asCsi) finally in.close()
      1L
    }.sum().toLong
  }

  /** A bin's CSI `loffset` derived from the per-16kb-window minima (the
    * linear accumulation): it must cover records of OTHER (parent) bins
    * overlapping the bin's window, so it is the min over the bin's leaf
    * windows, NOT the bin's own chunk start. Shared by the text and BCF
    * `.csi` writers — the two must emit identical floors. */
  private[sources] val levelStarts = Array(0, 1, 9, 73, 585, 4681)
  private[sources] def loffsetOf(r: TbiRef, bin: Int): Long = {
    val l = levelStarts.lastIndexWhere(_ <= bin)
    val shift = 3 * (5 - l)
    val first = (bin - levelStarts(l)) << shift
    val end = math.min(first + (1L << shift), r.linear.length.toLong).toInt
    var m = 0L
    var w = first
    while (w < end) {
      val v = r.linear(w)
      if (v > 0 && (m == 0L || v < m)) m = v
      w += 1
    }
    m
  }

  /** Per-reference tabix accumulation state. */
  private[sources] final class TbiRef {
    val bins = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    val linear = scala.collection.mutable.ArrayBuffer.empty[Long]
    def chunk(bin: Int, vbeg: Long, vend: Long): Unit = {
      val cs = bins.getOrElseUpdate(bin,
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long)])
      if (cs.nonEmpty && cs.last._2 == vbeg)
        cs(cs.length - 1) = (cs.last._1, vend)
      else cs += ((vbeg, vend))
    }
    def window(beg0: Int, end0: Int, vbeg: Long): Unit = {
      val hi = math.max(beg0, end0 - 1) >> 14
      while (linear.length <= hi) linear += 0L
      var w = beg0 >> 14
      while (w <= hi) {
        if (linear(w) == 0L || vbeg < linear(w)) linear(w) = vbeg
        w += 1
      }
    }
  }

  private def tabixOne(in: org.apache.hadoop.fs.FSDataInputStream, len: Long,
      format: String, rawOut: java.io.OutputStream,
      csi: Boolean = false): Unit = {
    val comment = if (format == "sam") '@' else '#'
    val (cIdx, pIdx) = if (format == "sam") (2, 3) else (0, 1 + (if (format == "gff") 2 else 0))
    val refs = scala.collection.mutable.LinkedHashMap.empty[String, TbiRef]
    // Coordinate-sortedness check (the index contract): the linear
    // index / loffset FLOORS are only valid on sorted input — records
    // before the floor get skipped by readers. Unsorted input still
    // gets a correct bins-only index (floors zeroed below).
    var sorted = true
    var lastContig: String = null
    var lastPos = -1

    def record(line: String, vbeg: Long, vend: Long): Unit = {
      if (line.isEmpty || line.charAt(0) == comment) return
      val f = line.split('\t')
      if (f.length <= pIdx) return
      val contig = f(cIdx)
      val pos = try f(pIdx).toInt catch { case _: NumberFormatException => -1 }
      if (contig == "*" || contig == "." || pos <= 0) return
      if (contig != lastContig) {
        if (refs.contains(contig)) sorted = false // reference reappears
        lastContig = contig; lastPos = pos
      } else if (pos < lastPos) sorted = false
      else lastPos = pos
      val endLen =
        if (format == "vcf") { if (f.length > 3) f(3).length else 1 }
        else if (format == "gff") {
          // GFF end is an explicit 1-based inclusive column.
          val e = if (f.length > 4)
            (try f(4).toInt catch { case _: NumberFormatException => pos })
          else pos
          math.max(e - pos + 1, 1)
        }
        else if (f.length > 5) math.max(refConsumed(f(5)), 1)
        else 1
      val beg0 = pos - 1
      val end0 = beg0 + endLen
      val ref = refs.getOrElseUpdate(contig, new TbiRef)
      ref.chunk(BamFormat.reg2bin(beg0, end0), vbeg, vend)
      ref.window(beg0, end0, vbeg)
    }

    // Stream the member chain once, tracking each line's start/end
    // VIRTUAL offsets ((memberFileOffset << 16) | inflatedOffset).
    val members = BamFormat.bgzfMembers(in, len, 0L)
    val carry = new java.lang.StringBuilder()
    var carryBeg = 0L
    members.foreach { case (off, bytes) =>
      // Line offsets pack into the low 16 bits of the virtual offset; a
      // member inflating to exactly 65536 bytes would overflow into the
      // file-offset bits and corrupt every chunk this index plans
      // (r14 ADVICE — unreachable from bgzip/the engine writer, guarded
      // against pathological producers).
      require(bytes.length < 0x10000,
        s"BGZF member at offset $off inflates to ${bytes.length} bytes — " +
        "beyond the 16-bit virtual-offset space")
      val s = new String(bytes, StandardCharsets.UTF_8)
      var i = 0
      if (carry.length() > 0) {
        val nl = s.indexOf('\n')
        if (nl < 0) { carry.append(s); i = s.length }
        else {
          carry.append(s, 0, nl)
          record(carry.toString, carryBeg, (off << 16) | (nl + 1).toLong)
          carry.setLength(0)
          i = nl + 1
        }
      }
      while (i < s.length) {
        val nl = s.indexOf('\n', i)
        if (nl < 0) {
          carry.append(s, i, s.length); carryBeg = (off << 16) | i.toLong
          i = s.length
        } else {
          record(s.substring(i, nl), (off << 16) | i.toLong,
            (off << 16) | (nl + 1).toLong)
          i = nl + 1
        }
      }
    }
    if (carry.length() > 0)
      record(carry.toString, carryBeg, len << 16) // EOF without newline

    // Render (both index containers are themselves BGZF).
    val out = new java.io.DataOutputStream(
      new BamFormat.BgzfOutputStream(rawOut))
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
    val nameBytes = refs.keys.map(n =>
      n.getBytes(StandardCharsets.US_ASCII) :+ 0.toByte).toArray
    // The tabix header block — .tbi writes it at the top, .csi carries
    // the identical bytes as its aux payload.
    def tabixHeader(): Unit = {
      le32(format match { case "vcf" => 2; case "sam" => 1; case _ => 0 }) // preset
      le32(if (format == "sam") 3 else 1) // col_seq (1-based)
      le32(format match { case "vcf" => 2; case "sam" => 4; case _ => 4 }) // col_beg
      le32(if (format == "gff") 5 else 0) // col_end (0 = derived)
      le32(comment.toInt)
      le32(0) // skip
      le32(nameBytes.map(_.length).sum)
      nameBytes.foreach(out.write)
    }
    if (!csi) {
      out.write('T'); out.write('B'); out.write('I'); out.write(1)
      le32(refs.size)
      tabixHeader()
      refs.values.foreach { r =>
        le32(r.bins.size)
        r.bins.foreach { case (bin, chunks) =>
          le32(bin); le32(chunks.length)
          chunks.foreach { case (b, e) => le64(b); le64(e) }
        }
        le32(r.linear.length)
        r.linear.foreach(l => le64(if (sorted) l else 0L))
      }
    } else {
      // CSI v1 at the BAI-equivalent scheme; no linear index — each
      // bin's `loffset` replaces it (see [[GraftIndexer.loffsetOf]]).
      out.write('C'); out.write('S'); out.write('I'); out.write(1)
      le32(14); le32(5) // min_shift, depth
      le32(28 + nameBytes.map(_.length).sum) // l_aux
      tabixHeader()
      le32(refs.size)
      refs.values.foreach { r =>
        le32(r.bins.size)
        r.bins.foreach { case (bin, chunks) =>
          le32(bin); le64(if (sorted) loffsetOf(r, bin) else 0L)
          le32(chunks.length)
          chunks.foreach { case (b, e) => le64(b); le64(e) }
        }
      }
    }
    out.flush()
    out.close()
  }

  /** CIGAR reference-consumed length (M/D/N/=/X op sum); 0 for '*'. */
  private def refConsumed(cigar: String): Int = {
    var total = 0; var n = 0; var i = 0
    while (i < cigar.length) {
      val c = cigar.charAt(i)
      if (c >= '0' && c <= '9') n = n * 10 + (c - '0')
      else {
        if (c == 'M' || c == 'D' || c == 'N' || c == '=' || c == 'X') total += n
        n = 0
      }
      i += 1
    }
    total
  }

  /** One member's accumulating envelope. */
  private final class Env {
    var lead: Int = -1 // inflated offset of the first line START (-1 = none)
    var minS: Int = Int.MaxValue
    var maxE: Int = Int.MinValue
    var n: Long = 0L
    val contigs = scala.collection.mutable.LinkedHashSet.empty[String]
  }

  private def indexOne(in: org.apache.hadoop.fs.FSDataInputStream, len: Long,
      format: String, out: java.io.BufferedWriter): Unit = {
    val comment = if (format == "sam") '@' else '#'
    val (cIdx, pIdx) = if (format == "sam") (2, 3) else (0, 1 + (if (format == "gff") 2 else 0))
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Env)]

    def record(line: String, env: Env): Unit = {
      if (line.isEmpty || line.charAt(0) == comment) return
      env.n += 1
      val f = line.split('\t')
      if (f.length > pIdx) {
        val contig = f(cIdx)
        val pos = try f(pIdx).toInt catch { case _: NumberFormatException => -1 }
        if (contig != "*" && contig != "." && pos > 0) {
          env.contigs += RangeFunctions.cleanContig(contig)
          val endLen =
            if (format == "vcf") { if (f.length > 3) f(3).length else 1 }
            else if (format == "gff") {
              val e = if (f.length > 4)
                (try f(4).toInt catch { case _: NumberFormatException => pos })
              else pos
              math.max(e - pos + 1, 1)
            }
            else if (f.length > 5) math.max(refConsumed(f(5)), 1)
            else 1
          env.minS = math.min(env.minS, pos)
          env.maxE = math.max(env.maxE, pos + endLen - 1)
        }
      }
    }

    // Stream the member chain once; `carry` holds the open (unterminated)
    // line and `owner` the envelope of the member it started in.
    val members = BamFormat.bgzfMembers(in, len, 0L)
    val carry = new java.lang.StringBuilder()
    var owner: Env = null
    members.foreach { case (off, bytes) =>
      val env = new Env
      entries += ((off, env))
      val s = new String(bytes, StandardCharsets.UTF_8)
      var i = 0
      if (carry.length() > 0) {
        val nl = s.indexOf('\n')
        if (nl < 0) { carry.append(s); i = s.length }
        else {
          carry.append(s, 0, nl)
          record(carry.toString, owner)
          carry.setLength(0); owner = null
          i = nl + 1
        }
      }
      if (i < s.length) env.lead = i
      while (i < s.length) {
        val nl = s.indexOf('\n', i)
        if (nl < 0) { carry.append(s, i, s.length); owner = env; i = s.length }
        else { record(s.substring(i, nl), env); i = nl + 1 }
      }
    }
    if (carry.length() > 0) record(carry.toString, owner) // EOF w/o newline

    entries.foreach { case (off, env) =>
      if (env.n > 0) {
        // Members holding ONLY header/comment lines still need an entry
        // (their lead points past those lines is wrong — comments don't
        // move lead; they are data-line-free): emit only when a DATA
        // line contributed, or when lines exist but none were mapped
        // (unmapped-only member: unconstrained envelope, `*` contigs).
        val cs =
          if (env.contigs.isEmpty || env.contigs.size > 8) "*"
          else env.contigs.mkString(",")
        val (lo, hi) =
          if (env.minS == Int.MaxValue) (1, Int.MaxValue - 1) // no coordinate info
          else (env.minS, env.maxE)
        out.write(s"$off\t$lo\t$hi\t${env.n}\t$cs\t${env.lead}\n")
      }
    }
  }
}
