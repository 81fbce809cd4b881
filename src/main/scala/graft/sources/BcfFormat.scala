package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** Pure-JVM BCF 2.2 container I/O (the BINARY twin of `.vcf` — what
  * `bcftools` emits natively; SURVEY S4's ecosystem completion, the same
  * role the CRAM codec plays for S2). The reference reads variants only
  * as text through Glow (`datasources/VCF/VCFRelation.scala:25-49`);
  * everything here follows the PUBLIC VCFv4.3 specification §6 (BCF):
  *
  *  - the container is BGZF (read through the JDK gzip engine, which
  *    consumes concatenated members natively; written with
  *    [[BamFormat.BgzfOutputStream]]);
  *  - after `BCF\2\x02` magic comes the ordinary TEXT VCF header
  *    (length-prefixed, NUL-terminated) — IDs of ##FILTER/##INFO/##FORMAT
  *    lines form the string dictionary (explicit `IDX=` wins, else order
  *    of appearance, `PASS` implicitly first), ##contig lines the contig
  *    dictionary;
  *  - records are two length-prefixed blocks (shared + per-sample) of
  *    TYPED values: descriptor byte = `len<<4 | type` (15 = overflow
  *    length as a following typed int), types int8/16/32, float, char;
  *    sentinel bit patterns encode missing values and end-of-vector;
  *    GT packs `(allele+1)<<1 | phased` per call.
  *
  * The READER renders each record back to an exact VCF data line (raw
  * contig names, 1-based POS) and hands it to [[VcfFormat.parse]] — the
  * binary and text sources share one expression pipeline, so they cannot
  * drift; the typed `info_<ID>` / `genotypes` surfaces come for free.
  * Validated the BAM way: golden bytes hand-assembled from the spec
  * text, write→read round trips, and frame equality against the text
  * twin through the independent [[VcfSource]] path. */
object BcfFormat {

  // ------------------------------------------------------------- constants
  private val TMissing = 0
  private val TInt8 = 1
  private val TInt16 = 2
  private val TInt32 = 3
  private val TFloat = 5
  private val TChar = 7

  private val MissingI8 = 0x80.toByte.toInt // -128
  private val EovI8 = 0x81.toByte.toInt // -127
  private val MissingI16 = 0x8000.toShort.toInt
  private val EovI16 = 0x8001.toShort.toInt
  private val MissingI32 = 0x80000000
  private val EovI32 = 0x80000001
  private val MissingF32 = 0x7F800001
  private val EovF32 = 0x7F800002

  // ---------------------------------------------------- little-endian read
  private[sources] final class ByteReader(in: InputStream) {
    private val one = new Array[Byte](4)
    // Bytes consumed so far — record framing audits (consumed-vs-l_shared/
    // l_indiv) catch a mis-sized field decode BEFORE it desyncs the
    // stream into garbage rows (r14 ADVICE).
    private var n = 0L
    def consumed: Long = n
    /** -1 on clean EOF at a record boundary. */
    def u8OrEof(): Int = { val v = in.read(); if (v >= 0) n += 1; v }
    def u8(): Int = {
      val v = in.read()
      if (v < 0) sys.error("BCF: truncated stream")
      n += 1
      v
    }
    def readFully(b: Array[Byte], len: Int): Unit = {
      var o = 0
      while (o < len) {
        val r = in.read(b, o, len - o)
        if (r < 0) sys.error("BCF: truncated stream")
        o += r
      }
      n += len
    }
    def i16(): Int = { readFully(one, 2); ((one(0) & 0xff) | ((one(1) & 0xff) << 8)).toShort.toInt }
    def i32(): Int = {
      readFully(one, 4)
      (one(0) & 0xff) | ((one(1) & 0xff) << 8) | ((one(2) & 0xff) << 16) | ((one(3) & 0xff) << 24)
    }
    def f32bits(): Int = i32()
    private lazy val scratch = new Array[Byte](8192)
    def skip(k: Long): Unit = {
      var left = k
      while (left > 0) {
        val r = in.read(scratch, 0, math.min(left, scratch.length.toLong).toInt)
        if (r < 0) sys.error("BCF: truncated stream while skipping")
        left -= r
      }
      n += k
    }
  }

  /** InputStream over the INFLATED bytes of a BGZF member chain starting
    * at file offset `from`, exposing the packed virtual offset
    * (`memberFileOffset << 16 | inflatedOffset`) of the next unread
    * byte — the seam index building and `.csi` chunk reads share. The
    * reported offset is canonical: at a member boundary it advances to
    * the NEXT member before reporting, so record-start offsets never
    * point at a block end. */
  private[sources] final class PositionedBgzfStream(
      in: org.apache.hadoop.fs.FSDataInputStream, fileLen: Long,
      from: Long = 0L) extends InputStream {
    private val members = BamFormat.bgzfMembers(in, fileLen, from)
    private var cur: Array[Byte] = Array.emptyByteArray
    private var curOff: Long = from
    private var pos = 0
    private var exhausted = false

    private def ensure(): Boolean = {
      while (pos >= cur.length) {
        if (exhausted || !members.hasNext) { exhausted = true; return false }
        val (o, b) = members.next()
        // The packed voffset keeps the inflated offset in 16 bits; a
        // member inflating to exactly 65536 bytes (engine writer caps at
        // 60 KiB, bgzip at 65280 — but the field is spec-legal) would
        // silently overflow into the file-offset bits (r14 ADVICE).
        require(b.length < 0x10000,
          s"BGZF member at offset $o inflates to ${b.length} bytes — " +
          "beyond the 16-bit virtual-offset space")
        curOff = o; cur = b; pos = 0
      }
      true
    }
    /** Packed voffset of the next byte, WITHOUT prefetching: at a member
      * boundary this reports `(curOff << 16) | memberLength`, which
      * compares correctly against any later offset — and because the
      * index WRITER records chunk ends through this same function, a
      * chunk ending exactly at a boundary stops the reader before the
      * next member is inflated. Long.MaxValue once exhausted. */
    def virtualPacked: Long =
      if (exhausted && pos >= cur.length) Long.MaxValue
      else (curOff << 16) | pos
    override def read(): Int =
      if (!ensure()) -1 else { val v = cur(pos) & 0xff; pos += 1; v }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (!ensure()) -1
      else {
        val take = math.min(len, cur.length - pos)
        System.arraycopy(cur, pos, b, off, take)
        pos += take
        take
      }
  }

  // ------------------------------------------------------------ dictionary
  /** String + contig dictionaries from the embedded header text.
    * `IDX=` attributes win; otherwise order of first appearance. `PASS`
    * holds index 0 unless the header redeclares it elsewhere. */
  private[sources] def dictionaries(text: String): (Array[String], Array[String]) = {
    val Decl = """##(FILTER|INFO|FORMAT)=<(.*)>""".r
    val Contig = """##contig=<(.*)>""".r
    val IdAttr = """(?:^|,)ID=([^,>]+)""".r
    val IdxAttr = """(?:^|,)IDX=(\d+)""".r
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val contigs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var explicit = false
    var explicitContig = false
    text.linesIterator.foreach {
      case Decl(_, attrs) =>
        IdAttr.findFirstMatchIn(attrs).foreach { m =>
          val id = m.group(1)
          IdxAttr.findFirstMatchIn(attrs) match {
            case Some(x) => explicit = true; strings.getOrElseUpdate(id, x.group(1).toInt)
            case None => if (!strings.contains(id)) strings(id) = -1 // placeholder
          }
        }
      case Contig(attrs) =>
        IdAttr.findFirstMatchIn(attrs).foreach { m =>
          val id = m.group(1)
          IdxAttr.findFirstMatchIn(attrs) match {
            case Some(x) =>
              explicitContig = true; contigs.getOrElseUpdate(id, x.group(1).toInt)
            case None => if (!contigs.contains(id)) contigs(id) = -1 // placeholder
          }
        }
      case _ => ()
    }
    // The spec's IDX attribute is all-or-none: a header mixing explicit
    // IDX= with implicit declarations has no well-defined numbering for
    // the implicit ones (they used to stay at placeholder -1 and render
    // as "null" / throw mid-scan on lookup — r14 ADVICE). Fail loudly.
    // The contig dictionary gets the SAME check: an implicit contig
    // assigned appearance order can collide with an explicit IDX and
    // silently rename every record on the shadowed contig.
    if (explicit) {
      val implicitIds = strings.collect { case (id, -1) => id }
      require(implicitIds.isEmpty,
        s"BCF header mixes explicit IDX= with implicit declarations " +
        s"(no IDX on: ${implicitIds.mkString(", ")}) — the spec requires " +
        "IDX on all dictionary entries or none")
    }
    if (explicitContig) {
      val implicitIds = contigs.collect { case (id, -1) => id }
      require(implicitIds.isEmpty,
        s"BCF header mixes explicit IDX= with implicit contig " +
        s"declarations (no IDX on: ${implicitIds.mkString(", ")}) — the " +
        "spec requires IDX on all dictionary entries or none")
    } else {
      // Implicit contig numbering: order of first appearance.
      contigs.keys.toSeq.zipWithIndex.foreach { case (id, i) => contigs(id) = i }
    }
    // Implicit numbering: PASS first, then appearance order. Under
    // explicit IDX an undeclared PASS is still pinned to index 0 when
    // free — htslib seeds the dictionary with PASS at IDX 0 and only
    // writes IDX= lines for the REST, so a spec-valid foreign header can
    // declare IDX=1..N and leave PASS implicit at 0 (r15 review); only
    // when 0 is explicitly taken does PASS fall past the declared max.
    if (!strings.contains("PASS"))
      strings("PASS") =
        if (!explicit) -1
        else if (!strings.values.exists(_ == 0)) 0
        else strings.values.max + 1
    val ordered: Seq[(String, Int)] =
      if (explicit) strings.toSeq
      else {
        val names = "PASS" +: strings.keys.filter(_ != "PASS").toSeq
        names.zipWithIndex
      }
    def toArray(m: Seq[(String, Int)]): Array[String] = {
      val n = if (m.isEmpty) 0 else m.map(_._2).max + 1
      val a = new Array[String](n)
      m.foreach { case (s, i) => if (i >= 0 && i < n) a(i) = s }
      a
    }
    (toArray(ordered), toArray(contigs.toSeq))
  }

  // file -> (mtime:len fingerprint, contig dictionary): planning a
  // region query consults every file's dictionary; without this each
  // planning pass would re-open and re-inflate 100k headers.
  private val contigDictCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[String])]()

  private[sources] def contigDict(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Array[String] = {
    val key = st.getPath.toString
    val fp = s"${st.getModificationTime}:${st.getLen}"
    val hit = contigDictCache.get(key)
    if (hit != null && hit._1 == fp) return hit._2
    val d = dictionaries(headerText(fs.open(st.getPath)))._2
    contigDictCache.put(key, (fp, d))
    d
  }

  /** The embedded header text of a `.bcf` stream (closes `raw`). */
  def headerText(raw: InputStream): String = {
    val r = new ByteReader(new BufferedInputStream(new GZIPInputStream(raw)))
    try readMagicAndHeader(r)._1
    finally raw.close()
  }

  private[sources] def readMagicAndHeader(r: ByteReader): (String, Array[String], Array[String]) = {
    val m = new Array[Byte](5)
    r.readFully(m, 5)
    require(m(0) == 'B' && m(1) == 'C' && m(2) == 'F' && m(3) == 2,
      "not a BCF stream (bad magic)")
    require(m(4) == 1 || m(4) == 2, s"unsupported BCF minor version ${m(4)}")
    val lText = r.i32()
    val tb = new Array[Byte](lText)
    r.readFully(tb, lText)
    var end = lText
    while (end > 0 && tb(end - 1) == 0) end -= 1 // NUL terminator(s)
    val text = new String(tb, 0, end, StandardCharsets.UTF_8)
    val (strings, contigs) = dictionaries(text)
    (text, strings, contigs)
  }

  // --------------------------------------------------------------- reading
  /** Streams a `.bcf` file as rendered VCF data lines. One pass, one
    * record buffered at a time. */
  final class BcfReader(raw: InputStream, flagKeys: Set[String] = Set.empty) {
    private val r0 = new ByteReader(new BufferedInputStream(new GZIPInputStream(raw)))
    val (headerText, strings, contigs) = readMagicAndHeader(r0)
    private val cursor = new BcfLineCursor(r0, strings, contigs, flagKeys)
    /** The next record as a raw VCF data line, or null at EOF. */
    def nextLine(): String = cursor.nextLine()
  }

  /** Decodes RECORDS from an already-inflated byte stream positioned at
    * a record boundary — the seam `.csi` chunk reads enter through (the
    * dictionaries come from the file header, read separately). */
  private[sources] final class BcfLineCursor(r: ByteReader,
      strings: Array[String], contigs: Array[String], flagKeys: Set[String]) {

    /** All dictionary lookups route here: a foreign/truncated dictionary
      * raises a descriptive error instead of an
      * ArrayIndexOutOfBoundsException or a literal "null" in the row
      * (r14 ADVICE). */
    private def dict(a: Array[String], idx: Int, what: String): String = {
      if (idx < 0 || idx >= a.length || a(idx) == null) sys.error(
        s"BCF: $what dictionary index $idx out of range at stream byte " +
        s"${r.consumed} (${a.length} entries; foreign or truncated header?)")
      a(idx)
    }

    private def typeDesc(): (Int, Int) = {
      val b = r.u8()
      val t = b & 0x0F
      var n = b >>> 4
      if (n == 15) n = typedInt()
      (t, n)
    }

    private def typedInt(): Int = {
      val (t, n) = typeDesc()
      require(n == 1, s"BCF: typed int with length $n")
      t match {
        case TInt8 => (r.u8().toByte).toInt
        case TInt16 => r.i16()
        case TInt32 => r.i32()
        case x => sys.error(s"BCF: non-int type $x where int expected")
      }
    }

    private def readString(n: Int): String = {
      val b = new Array[Byte](n)
      r.readFully(b, n)
      var end = n
      while (end > 0 && b(end - 1) == 0) end -= 1
      new String(b, 0, end, StandardCharsets.UTF_8)
    }

    /** One vector of `n` values of `t`, rendered per VCF text rules.
      * Returns null for a MISSING-typed (t=0) or all-missing vector. */
    private def renderVector(t: Int, n: Int, gt: Boolean): String = {
      if (t == TMissing || n == 0) return null
      if (t == TChar) {
        val s = readString(n)
        return if (s.isEmpty || s == ".") null else s
      }
      val sb = new StringBuilder
      var any = false
      var stop = false
      var i = 0
      while (i < n) {
        val (v, eov, miss) = t match {
          case TInt8 => val x = r.u8().toByte.toInt; (x.toLong, x == EovI8, x == MissingI8)
          case TInt16 => val x = r.i16(); (x.toLong, x == EovI16, x == MissingI16)
          case TInt32 => val x = r.i32(); (x.toLong, x == EovI32, x == MissingI32)
          case TFloat =>
            val bits = r.f32bits()
            (bits.toLong, bits == EovF32, bits == MissingF32)
          case x => sys.error(s"BCF: unknown vector type $x")
        }
        if (!stop) {
          if (eov) stop = true
          else if (gt) {
            // (allele+1)<<1 | phased; 0 or MISSING = '.'
            val sep = if (sb.nonEmpty) { if ((v & 1) == 1) "|" else "/" } else ""
            val a = (v >> 1) - 1
            sb.append(sep).append(if (miss || v == 0 || a < 0) "." else a.toString)
            any = true
          } else {
            if (sb.nonEmpty) sb.append(',')
            if (miss) sb.append('.')
            else {
              any = true
              if (t == TFloat) sb.append(renderFloat(java.lang.Float.intBitsToFloat(v.toInt)))
              else sb.append(v)
            }
          }
        }
        i += 1
      }
      if (!any && !gt) null else sb.toString
    }

    /** The next record as a raw VCF data line, or null at EOF. */
    def nextLine(): String = {
      val first = r.u8OrEof()
      if (first < 0) return null
      val rest = new Array[Byte](3)
      r.readFully(rest, 3)
      val lShared = (first & 0xff) | ((rest(0) & 0xff) << 8) |
        ((rest(1) & 0xff) << 16) | ((rest(2) & 0xff) << 24)
      val lIndiv = r.i32()
      require(lShared >= 24, s"BCF: shared block of $lShared bytes")
      val recBase = r.consumed
      val chromIdx = r.i32()
      val pos0 = r.i32()
      r.i32() // rlen — pos_end derives from REF length downstream (spec parity)
      val qualBits = r.f32bits()
      val nAlleleInfo = r.i32()
      val nFmtSample = r.i32()
      val nAllele = nAlleleInfo >>> 16
      val nInfo = nAlleleInfo & 0xFFFF
      val nFmt = nFmtSample >>> 24
      val nSample = nFmtSample & 0xFFFFFF
      val sb = new StringBuilder(128)
      sb.append(if (chromIdx >= 0 && chromIdx < contigs.length) contigs(chromIdx) else ".")
        .append('\t').append(pos0 + 1).append('\t')
      // ID
      val (idT, idN) = typeDesc()
      val id = if (idT == TChar) readString(idN) else { renderVector(idT, idN, gt = false); "" }
      sb.append(if (id.isEmpty) "." else id).append('\t')
      // alleles
      val alleles = Array.fill(nAllele) {
        val (t, n) = typeDesc()
        require(t == TChar || n == 0, s"BCF: allele of type $t")
        readString(n)
      }
      sb.append(if (nAllele > 0) alleles(0) else ".").append('\t')
      sb.append(if (nAllele > 1) alleles.drop(1).mkString(",") else ".").append('\t')
      // QUAL
      if (qualBits == MissingF32) sb.append('.')
      else sb.append(renderFloat(java.lang.Float.intBitsToFloat(qualBits)))
      sb.append('\t')
      // FILTER
      val (fT, fN) = typeDesc()
      if (fN == 0) sb.append('.')
      else {
        var i = 0
        while (i < fN) {
          val idx = fT match {
            case TInt8 => r.u8().toByte.toInt
            case TInt16 => r.i16()
            case TInt32 => r.i32()
            case x => sys.error(s"BCF: FILTER of type $x")
          }
          if (i > 0) sb.append(';')
          sb.append(dict(strings, idx, "FILTER"))
          i += 1
        }
      }
      sb.append('\t')
      // INFO
      if (nInfo == 0) sb.append('.')
      else {
        var i = 0
        while (i < nInfo) {
          val key = dict(strings, typedInt(), "INFO key")
          val (t, n) = typeDesc()
          val v = renderVector(t, n, gt = false)
          if (i > 0) sb.append(';')
          sb.append(key)
          // A Flag renders as the bare key — written as a MISSING-typed
          // value by this engine, as int 1 by htslib (flagKeys covers it).
          if (t != TMissing && !flagKeys.contains(key))
            sb.append('=').append(if (v == null) "." else v)
          i += 1
        }
      }
      // Framing audit: the shared block must be consumed EXACTLY — a
      // field the decoder mis-sizes would otherwise silently desync the
      // stream and emit garbage rows from the middle of this record's
      // genotype block (r14 ADVICE).
      require(r.consumed - recBase == lShared.toLong,
        s"BCF: record at stream byte $recBase declares l_shared=$lShared " +
        s"but decoding consumed ${r.consumed - recBase} bytes")
      // genotypes
      if (nFmt > 0 && nSample > 0) {
        // Interleaved per field: typed int key, then the value block.
        val keys = new Array[String](nFmt)
        val rendered = Array.ofDim[String](nFmt, nSample)
        var f = 0
        while (f < nFmt) {
          keys(f) = dict(strings, typedInt(), "FORMAT key")
          val (t, perSample) = typeDesc()
          val gt = keys(f) == "GT"
          var s = 0
          while (s < nSample) {
            val v = renderVector(t, perSample, gt)
            rendered(f)(s) = if (v == null) "." else v
            s += 1
          }
          f += 1
        }
        sb.append('\t').append(keys.mkString(":"))
        var s = 0
        while (s < nSample) {
          sb.append('\t')
          var f = 0
          while (f < nFmt) {
            if (f > 0) sb.append(':')
            sb.append(rendered(f)(s))
            f += 1
          }
          s += 1
        }
      }
      require(r.consumed - recBase == lShared.toLong + lIndiv,
        s"BCF: record at stream byte $recBase declares l_indiv=$lIndiv " +
        s"but the genotype block consumed ${r.consumed - recBase - lShared} bytes")
      sb.toString
    }

  }

  /** Shortest text that round-trips the float — integers drop the
    * trailing `.0` (VCF text convention, keeps `DP=14` not `DP=14.0`). */
  private def renderFloat(f: Float): String = {
    if (f == f.toLong.toFloat && math.abs(f) < 1e15f) f.toLong.toString
    else f.toString
  }

  // --------------------------------------------------------------- writing
  /** Typed-value encoder over a byte buffer. */
  private final class Enc(out: ByteArrayOutputStream) {
    def u8(v: Int): Unit = out.write(v & 0xff)
    def i16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def i32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def desc(t: Int, n: Int): Unit =
      if (n < 15) u8((n << 4) | t)
      else { u8((15 << 4) | t); typedInt(n) }
    def typedInt(v: Int): Unit =
      if (v >= -120 && v <= 127) { u8((1 << 4) | TInt8); u8(v) }
      else if (v >= -32760 && v <= 32767) { u8((1 << 4) | TInt16); i16(v) }
      else { u8((1 << 4) | TInt32); i32(v) }
    /** One int vector at the smallest width that holds every value. */
    def intVector(vs: Array[Int], missing: Array[Boolean]): Unit = {
      var lo = 0; var hi = 0
      var i = 0
      while (i < vs.length) {
        if (!missing(i)) { lo = math.min(lo, vs(i)); hi = math.max(hi, vs(i)) }
        i += 1
      }
      val t = if (lo >= -120 && hi <= 127) TInt8
        else if (lo >= -32760 && hi <= 32767) TInt16 else TInt32
      desc(t, vs.length)
      i = 0
      while (i < vs.length) {
        val miss = missing(i)
        t match {
          case TInt8 => u8(if (miss) MissingI8 else vs(i))
          case TInt16 => i16(if (miss) MissingI16 else vs(i))
          case TInt32 => i32(if (miss) MissingI32 else vs(i))
        }
        i += 1
      }
    }
    def floatVector(vs: Array[Float], missing: Array[Boolean]): Unit = {
      desc(TFloat, vs.length)
      var i = 0
      while (i < vs.length) {
        i32(if (missing(i)) MissingF32 else java.lang.Float.floatToRawIntBits(vs(i)))
        i += 1
      }
    }
    def chars(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      desc(TChar, b.length)
      out.write(b, 0, b.length)
    }
    def missingValue(): Unit = u8(TMissing) // type 0, length 0
  }

  /** Declared field types the writer encodes by (from `##INFO`/`##FORMAT`
    * metaLines — undeclared keys fail loudly; the spec requires the
    * dictionary to cover every key in the body). */
  private def declaredTypes(metaLines: Seq[String])
      : (Map[String, (String, String)], Map[String, (String, String)]) = {
    val Info = """##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*>""".r
    val Fmt = """##FORMAT=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*>""".r
    val infos = Map.newBuilder[String, (String, String)]
    val fmts = Map.newBuilder[String, (String, String)]
    metaLines.foreach {
      case Info(id, num, tpe) => infos += id -> (num, tpe)
      case Fmt(id, num, tpe) => fmts += id -> (num, tpe)
      case _ => ()
    }
    (infos.result(), fmts.result())
  }

  /** Render a variant frame as a [[ShardedSink]] directory of
    * `part-NNNNN[-token].bcf` shards (one fully-headed shard per task, the
    * writeVcf/writeBam output shape; an empty frame leaves one
    * header-only `part-00000.bcf`). Expected columns: the
    * [[VcfFormat.writeVcf]] surface — `contig, pos_start, ref` plus
    * optional `id/alt/qual/filter/info`, `sampleCols` raw genotype
    * strings with `formatCol`. Every INFO/FORMAT key used by the data
    * must be declared in `metaLines` (loud error otherwise — BCF bodies
    * are dictionary-encoded). Contig dictionary: built per shard in
    * first-appearance order (records buffer in memory until the shard's
    * header is known — keep shards task-sized, the usual sink layout). */
  def writeBcf(df: org.apache.spark.sql.DataFrame, path: String,
      sampleCols: Seq[String] = Nil, formatCol: Option[String] = None,
      metaLines: Seq[String] = Nil, overwrite: Boolean = true): Unit = {
    import org.apache.spark.sql.functions._
    import VcfFormat.optField
    val cols = Seq(
      coalesce(col("contig").cast("string"), lit(".")).as("_c"),
      col("pos_start").cast("int").as("_p"),
      optField(df, "id").as("_id"), coalesce(col("ref").cast("string"), lit(".")).as("_ref"),
      optField(df, "alt").as("_alt"), optField(df, "qual").as("_q"),
      optField(df, "filter").as("_f"), optField(df, "info").as("_i")) ++
      (if (sampleCols.isEmpty) Nil
       else (formatCol.map(c => coalesce(col(c).cast("string"), lit("GT")))
         .getOrElse(lit("GT")).as("_fmt") +:
         sampleCols.zipWithIndex.map { case (c, i) =>
           coalesce(col(c).cast("string"), lit(".")).as(s"_s$i")
         }))
    val rows = df.select(cols: _*)
    val nSample = sampleCols.length
    ShardedSink.write(rows.queryExecution.toRdd, path, ".bcf", overwrite) { (fs, p, it) =>
      writeShard(it.map { ir =>
        Array.tabulate(8 + (if (nSample == 0) 0 else 1 + nSample)) { i =>
          if (ir.isNullAt(i)) "." else {
            if (i == 1) ir.getInt(1).toString else ir.getUTF8String(i).toString
          }
        }
      }, fs.create(p, true), metaLines, sampleCols)
    }
  }

  /** One shard: buffer encoded records while growing the contig
    * dictionary, then emit header + records through BGZF. */
  private def writeShard(records: Iterator[Array[String]], rawOut: OutputStream,
      metaLines: Seq[String], sampleNames: Seq[String]): Unit = {
    val (infoTypes, fmtTypes) = declaredTypes(metaLines)
    // String dictionary: PASS first, then metaLines' declaration order.
    val dict = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    dict("PASS") = 0
    val Id = """##(?:FILTER|INFO|FORMAT)=<ID=([^,>]+).*>""".r
    metaLines.foreach {
      case Id(id) => if (!dict.contains(id)) dict(id) = dict.size
      case _ => ()
    }
    def dictIdx(key: String, what: String): Int =
      dict.getOrElse(key, sys.error(
        s"writeBcf: $what '$key' is not declared in metaLines — BCF bodies " +
        "are dictionary-encoded; add the ##INFO/##FORMAT/##FILTER line"))
    val contigs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val body = new ByteArrayOutputStream(1 << 20)

    records.foreach { f =>
      val enc = new Enc(body)
      val shared = new ByteArrayOutputStream(256)
      val se = new Enc(shared)
      val indiv = new ByteArrayOutputStream(64)
      val ie = new Enc(indiv)
      val contig = f(0)
      val cIdx = contigs.getOrElseUpdate(contig, contigs.size)
      se.i32(cIdx)
      se.i32(f(1).toInt - 1) // 0-based POS
      val ref = f(3)
      val altStr = f(4)
      val alts = if (altStr == ".") Array.empty[String] else altStr.split(',')
      se.i32(ref.length) // rlen
      se.i32(if (f(5) == ".") MissingF32
        else java.lang.Float.floatToRawIntBits(f(5).toFloat))
      val info = f(7)
      val infoPairs: Array[(String, String)] =
        if (info == ".") Array.empty
        else info.split(';').map { kv =>
          val eq = kv.indexOf('=')
          if (eq < 0) (kv, null) else (kv.substring(0, eq), kv.substring(eq + 1))
        }
      se.i32(((1 + alts.length) << 16) | infoPairs.length)
      val hasGt = f.length > 8
      val fmtKeys: Array[String] =
        if (!hasGt) Array.empty else f(8).split(':')
      se.i32((fmtKeys.length << 24) | sampleNames.length)
      // ID, alleles, FILTER, INFO
      if (f(2) == ".") se.missingValue() else se.chars(f(2))
      se.chars(ref)
      alts.foreach(se.chars)
      if (f(6) == ".") se.desc(TInt8, 0)
      else {
        val names = f(6).split(';')
        se.intVector(names.map(n => dictIdx(n, "FILTER")),
          Array.fill(names.length)(false))
      }
      infoPairs.foreach { case (k, v) =>
        se.typedInt(dictIdx(k, "INFO key"))
        val (num, tpe) = infoTypes.getOrElse(k,
          sys.error(s"writeBcf: INFO '$k' lacks a ##INFO declaration"))
        if (v == null || num == "0") se.missingValue() // Flag
        else tpe match {
          case "Integer" =>
            val parts = v.split(',')
            se.intVector(parts.map(p => if (p == ".") 0 else p.toInt),
              parts.map(_ == "."))
          case "Float" =>
            val parts = v.split(',')
            se.floatVector(parts.map(p => if (p == ".") 0f else p.toFloat),
              parts.map(_ == "."))
          case _ => se.chars(v)
        }
      }
      // genotype block
      if (hasGt) {
        val perSample = sampleNames.indices.map(i =>
          f(9 + i).split(':')).toArray
        fmtKeys.zipWithIndex.foreach { case (key, fi) =>
          ie.typedInt(dictIdx(key, "FORMAT key"))
          def fieldOf(s: Int): String = {
            val a = perSample(s)
            if (fi < a.length) a(fi) else "."
          }
          if (key == "GT") {
            // Per-SEPARATOR phasing (spec-legal mixed phasing like
            // '0/1|2'): each call after the first takes the phase bit of
            // ITS OWN separator; phased missing calls ('.|.') encode as
            // the bare phase bit (allele+1 = 0).
            val calls = sampleNames.indices.map { s =>
              val g = fieldOf(s)
              val out = scala.collection.mutable.ArrayBuffer.empty[Int]
              var i = 0
              var tok = new StringBuilder
              var phase = false
              def emit(): Unit = {
                val t = tok.toString
                val v = if (t == "." || t.isEmpty) 0 else ((t.toInt + 1) << 1)
                out += (if (out.nonEmpty && phase) v | 1 else v)
                tok = new StringBuilder
              }
              while (i < g.length) {
                val c = g.charAt(i)
                if (c == '/' || c == '|') { emit(); phase = c == '|' }
                else tok.append(c)
                i += 1
              }
              emit()
              out.toArray
            }
            val ploidy = calls.map(_.length).max
            // Width-select like intVector: allele indexes >= 63 overflow
            // the int8 packing into the sentinel range.
            val maxV = calls.iterator.flatten.foldLeft(0)(math.max)
            val t = if (maxV <= 127) TInt8
              else if (maxV <= 32767) TInt16 else TInt32
            ie.desc(t, ploidy)
            calls.foreach { c =>
              def put(v: Int): Unit = t match {
                case TInt8 => ie.u8(v); case TInt16 => ie.i16(v)
                case _ => ie.i32(v)
              }
              c.foreach(put)
              (c.length until ploidy).foreach(_ => put(t match {
                case TInt8 => EovI8; case TInt16 => EovI16; case _ => EovI32
              }))
            }
          } else {
            val (num, tpe) = fmtTypes.getOrElse(key,
              sys.error(s"writeBcf: FORMAT '$key' lacks a ##FORMAT declaration"))
            val parts = sampleNames.indices.map(s => fieldOf(s).split(','))
            val width = parts.map(_.length).max
            tpe match {
              case "Integer" =>
                // Pad ragged vectors with EOV (encoded as int32 path for
                // simplicity when values are wide? No: intVector picks
                // width from values; EOV must match that width). Render
                // per-sample missing as MISSING, absent tail as EOV.
                val t = {
                  var lo = 0; var hi = 0
                  parts.foreach(_.foreach(p => if (p != ".") {
                    val x = p.toInt; lo = math.min(lo, x); hi = math.max(hi, x)
                  }))
                  if (lo >= -120 && hi <= 127) TInt8
                  else if (lo >= -32760 && hi <= 32767) TInt16 else TInt32
                }
                ie.desc(t, width)
                parts.foreach { a =>
                  var i = 0
                  while (i < width) {
                    val v: Int =
                      if (i >= a.length) (t match {
                        case TInt8 => EovI8; case TInt16 => EovI16; case _ => EovI32
                      })
                      else if (a(i) == ".") (t match {
                        case TInt8 => MissingI8; case TInt16 => MissingI16
                        case _ => MissingI32
                      })
                      else a(i).toInt
                    t match {
                      case TInt8 => ie.u8(v); case TInt16 => ie.i16(v)
                      case _ => ie.i32(v)
                    }
                    i += 1
                  }
                }
              case "Float" =>
                ie.desc(TFloat, width)
                parts.foreach { a =>
                  var i = 0
                  while (i < width) {
                    val bits =
                      if (i >= a.length) EovF32
                      else if (a(i) == ".") MissingF32
                      else java.lang.Float.floatToRawIntBits(a(i).toFloat)
                    ie.i32(bits)
                    i += 1
                  }
                }
              case _ =>
                // char vectors: fixed width = longest string, NUL-padded.
                val strs = sampleNames.indices.map(s => fieldOf(s))
                val w = math.max(1, strs.map(_.getBytes(StandardCharsets.UTF_8).length).max)
                ie.desc(TChar, w)
                strs.foreach { s0 =>
                  val b = s0.getBytes(StandardCharsets.UTF_8)
                  indiv.write(b, 0, b.length)
                  (b.length until w).foreach(_ => indiv.write(0))
                }
            }
          }
        }
      }
      val sb = shared.toByteArray
      val ib = indiv.toByteArray
      enc.i32(sb.length)
      enc.i32(ib.length)
      body.write(sb, 0, sb.length)
      body.write(ib, 0, ib.length)
    }

    // Header text (the shard's own dictionary order matches the body).
    val headerText = new StringBuilder("##fileformat=VCFv4.3\n")
    metaLines.foreach(l => headerText.append(l).append('\n'))
    if (!metaLines.exists(_.startsWith("##FILTER=<ID=PASS")))
      headerText.append("##FILTER=<ID=PASS,Description=\"All filters passed\">\n")
    contigs.keys.foreach(c =>
      headerText.append(s"##contig=<ID=$c>\n"))
    headerText.append(
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO") ++
        (if (sampleNames.isEmpty) Nil else "FORMAT" +: sampleNames))
        .mkString("\t")).append('\n')
    val out = new BamFormat.BgzfOutputStream(rawOut)
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    out.write('B'); out.write('C'); out.write('F'); out.write(2); out.write(2)
    val tb = headerText.toString.getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    le32(tb.length)
    out.write(tb, 0, tb.length)
    val bodyBytes = body.toByteArray
    out.write(bodyBytes, 0, bodyBytes.length)
    out.close()
  }
}

/** Variant table over BINARY `.bcf` (the bcftools-native container) —
  * the [[VcfSource]] twin: the decoder streams records back to exact
  * VCF data lines and the SAME [[VcfFormat.parse]] expression pipeline
  * derives the surface, so the text and binary sources cannot drift.
  * Header metadata (samples, typed `##INFO`, `##FORMAT`) comes through
  * [[VcfFormat.headerMeta]] — memoized, multi-file-conflict-checked —
  * reading the length-prefixed header text embedded in each `.bcf`.
  * Options: `path`; `genotypes 'typed'` for the Glow-shaped struct
  * column. Parallelism: one task per file (records span BGZF members
  * with no sync marker — the sharded-sink layout is the unit of
  * parallelism, as for BAM before its index). */
class BcfSource extends org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bcf"

  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val path = parameters.getOrElse("path", sys.error("BcfSource requires a 'path' option"))
    val gmode = parameters.get("genotypes").map(_.toLowerCase)
    require(gmode.forall(_ == "typed"),
      s"BcfSource: unknown genotypes mode '${gmode.get}' (expected 'typed')")
    val typedGt = gmode.isDefined
    new GraftBaseRelation {
      override val sqlContext: org.apache.spark.sql.SQLContext = ctx
      override protected def sourcePath: Option[String] = Some(path)
      override protected def frame(): org.apache.spark.sql.DataFrame =
        BcfSource.frameFor(ctx.sparkSession, path, typedGt)
      // Region predicates prune containers through standard `.csi`
      // indexes (bcftools' own, or [[BcfIndex.indexFiles]] output);
      // when pruning does not engage, the MEMOIZED unpruned frame is
      // served (no per-query rebuild).
      override protected def frame(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.DataFrame =
        BcfSource.prunedFrameFor(ctx.sparkSession, path, typedGt, filters)
          .getOrElse(unprunedFrame)
    }
  }
}

object BcfSource {
  /** Files whose region pruning was planned through a `.csi` (test
    * observability). */
  private[graft] val csiPrunedFiles = new java.util.concurrent.atomic.LongAdder()

  private[sources] def frameFor(spark: org.apache.spark.sql.SparkSession,
      path: String, typedGenotypes: Boolean,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : org.apache.spark.sql.DataFrame =
    prunedFrameFor(spark, path, typedGenotypes, filters)
      .getOrElse(buildFrame(spark, path, typedGenotypes, None))

  /** `.csi`-planned region scan when the predicates constrain
    * contig/position and EVERY file carries an index — None when pruning
    * does not engage (the relation then serves its MEMOIZED unpruned
    * frame instead of re-building the full scan per query). Sidecar
    * statuses come from the shared directory snapshot and the parsed
    * `.csi` memoizes per (path, mtime, len), so a warm planning pass
    * costs one status probe, zero index re-reads. */
  private[sources] def prunedFrameFor(spark: org.apache.spark.sql.SparkSession,
      path: String, typedGenotypes: Boolean,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (contigSet, sMin, sMax, eMin, eMax) = VcfFormat.foldRegion(filters)
    val constrained = contigSet.isDefined || sMin != Int.MinValue ||
      sMax != Int.MaxValue || eMin != Int.MinValue || eMax != Int.MaxValue
    if (!constrained) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(path).getFileSystem(conf)
    val snap = SourceUtil.dirSnapshot(fs, path)
    val files = snap.dataFiles
    require(files.nonEmpty, s"BcfSource: no files match '$path'")
    val csiOf = files.map(st =>
      st -> snap.sidecar(fs, new HPath(st.getPath.toString + ".csi"))).toMap
    if (!files.forall(st => csiOf(st).isDefined)) return None
    // The chunk list is a SUPERSET of the predicate's records (the
    // engine re-applies filters), merged across references so no block
    // is read twice.
    val tasks: Seq[(String, Long, Seq[(Long, Long)])] = files.flatMap { st =>
      val file = st.getPath.toString
      val idx = VcfFormat.tabixIndex(fs, csiOf(st).get, isCsi = true)
        .toOption.get
      // CSI ref order IS the header contig-dictionary order (memoized
      // per file fingerprint — zero header reads on a planning hit).
      val contigNames = BcfFormat.contigDict(fs, st)
      val maxPos = 1L << (idx.minShift + idx.depth * 3)
      val startCap = math.min(math.min(sMax.toLong, eMax.toLong), maxPos - 1)
      val endFloor = math.max(math.max(sMin.toLong, eMin.toLong), 1L)
      val refIdxs = contigNames.indices.filter(i => contigSet.forall(
        _.contains(graft.functions.RangeFunctions.cleanContig(contigNames(i)))))
      val raw = refIdxs.flatMap { r =>
        if (r < idx.refs.length)
          BamFormat.CsiIndex.chunksFor(idx.refs(r), endFloor, startCap,
            idx.minShift, idx.depth, idx.loffsets(r))
        else Nil
      }.sortBy(_._1)
      val merged = BamFormat.mergeRanges(raw)
      csiPrunedFiles.increment()
      merged.grouped(64).map(g => (file, st.getLen, g.toSeq)).toSeq
    }
    Some(buildFrame(spark, path, typedGenotypes, Some(tasks)))
  }

  private def buildFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, typedGenotypes: Boolean,
      pruned: Option[Seq[(String, Long, Seq[(Long, Long)])]])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val meta = VcfFormat.headerMeta(spark, path)
    val flagKeys = meta.infos.filter(_.number == "0").map(_.id).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(path).getFileSystem(conf)
    val files = SourceUtil.listDataFiles(fs, path)
    require(files.nonEmpty, s"BcfSource: no files match '$path'")
    val taskConf = SourceUtil.taskConf(spark.sparkContext)

    val rdd = pruned match {
      case Some(tasks) if tasks.isEmpty =>
        spark.sparkContext.emptyRDD[String]
      case Some(tasks) =>
        spark.sparkContext.parallelize(tasks, tasks.length)
          .flatMap { case (file, len, ranges) =>
            val hp = new HPath(file)
            val tfs = hp.getFileSystem(taskConf.value.value)
            // Dictionaries from the file's own header (bounded read).
            val (_, strings, contigs) = {
              val hin = tfs.open(hp)
              try {
                val br = new BcfFormat.ByteReader(new java.io.BufferedInputStream(
                  new java.util.zip.GZIPInputStream(hin)))
                BcfFormat.readMagicAndHeader(br)
              } finally hin.close()
            }
            ranges.iterator.flatMap { case (vbeg, vend) =>
              val in = tfs.open(hp)
              Option(org.apache.spark.TaskContext.get()).foreach(
                _.addTaskCompletionListener[Unit](_ =>
                  try in.close() catch { case _: Exception => () }))
              val ps = new BcfFormat.PositionedBgzfStream(in, len, vbeg >>> 16)
              val br = new BcfFormat.ByteReader(ps)
              br.skip(vbeg & 0xFFFFL) // chunk start is a record boundary
              val cursor = new BcfFormat.BcfLineCursor(br, strings, contigs, flagKeys)
              new Iterator[String] {
                private var nextL: String = advance()
                private def advance(): String =
                  if (ps.virtualPacked >= vend) { in.close(); null }
                  else {
                    val l = cursor.nextLine()
                    if (l == null) in.close()
                    l
                  }
                def hasNext: Boolean = nextL != null
                def next(): String = { val v = nextL; nextL = advance(); v }
              }
            }
          }
      case None =>
        spark.sparkContext.parallelize(
            files.map(_.getPath.toString), files.length)
          .flatMap { file =>
            val hp = new HPath(file)
            val in = hp.getFileSystem(taskConf.value.value).open(hp)
            val rd = new BcfFormat.BcfReader(in, flagKeys)
            Option(org.apache.spark.TaskContext.get()).foreach(
              _.addTaskCompletionListener[Unit](_ => in.close()))
            Iterator.continually(rd.nextLine()).takeWhile(_ != null)
          }
    }
    val raw = spark.createDataset(rdd)(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val parsed = VcfFormat.parse(raw, meta)
    if (!typedGenotypes) parsed
    else {
      require(meta.samples.nonEmpty,
        s"BcfSource: genotypes 'typed' requires samples in the header at '$path'")
      parsed.withColumn("genotypes", VcfFormat.genotypesColumn(meta))
    }
  }
}

/** `.csi` indexing and index-driven region pruning for `.bcf` files —
  * the binary twin of [[GraftIndexer]]'s text presets and the BAM
  * `.bai`/`.csi` path: `bcftools index` output is consumed directly, and
  * [[BcfIndex.indexFiles]] builds the same `.csi` for unindexed files
  * (one streaming member pass per file, distributed one task per file).
  * CSI ref order IS the header contig-dictionary order (`CHROM` is the
  * dict index), and a BCF `.csi` carries no aux payload. */
object BcfIndex {

  /** Build `.csi` for every `.bcf` matched by `path` that lacks one.
    * Returns files indexed. Floors (per-bin loffset) are zeroed when the
    * file is not coordinate-sorted — bins-only correct, never wrong. */
  def indexFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      overwrite: Boolean = false): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files = SourceUtil.listDataFiles(fs, path, ".bcf")
      .filter(st => overwrite ||
        !fs.exists(new HPath(st.getPath.toString + ".csi")))
    if (files.isEmpty) return 0L
    val taskConf = SourceUtil.taskConf(spark.sparkContext)
    val work = files.map(st => (st.getPath.toString, st.getLen))
    spark.sparkContext.parallelize(work, work.length).map { case (file, len) =>
      val hp = new HPath(file)
      val tfs = hp.getFileSystem(taskConf.value.value)
      val in = tfs.open(hp)
      val out = tfs.create(new HPath(file + ".csi"), true)
      try indexOne(in, len, out) finally in.close()
      1L
    }.sum().toLong
  }

  private def indexOne(in: org.apache.hadoop.fs.FSDataInputStream, len: Long,
      rawOut: OutputStream): Unit = {
    val ps = new BcfFormat.PositionedBgzfStream(in, len, 0L)
    val br = new BcfFormat.ByteReader(ps)
    val m = new Array[Byte](5)
    br.readFully(m, 5)
    require(m(0) == 'B' && m(1) == 'C' && m(2) == 'F' && m(3) == 2,
      "not a BCF stream (bad magic)")
    val lText = br.i32()
    val tb = new Array[Byte](lText)
    br.readFully(tb, lText)
    var end = lText
    while (end > 0 && tb(end - 1) == 0) end -= 1
    val (_, contigs) = BcfFormat.dictionaries(
      new String(tb, 0, end, StandardCharsets.UTF_8))
    val refs = Array.fill(math.max(contigs.length, 1))(new GraftIndexer.TbiRef)
    var sorted = true
    var lastChrom = -1
    var lastPos = -1
    val seen = scala.collection.mutable.BitSet.empty
    var done = false
    while (!done) {
      val vbeg = ps.virtualPacked
      val first = br.u8OrEof()
      if (first < 0) done = true
      else {
        val rest = new Array[Byte](3)
        br.readFully(rest, 3)
        val lShared = (first & 0xff) | ((rest(0) & 0xff) << 8) |
          ((rest(1) & 0xff) << 16) | ((rest(2) & 0xff) << 24)
        val lIndiv = br.i32()
        val chromIdx = br.i32()
        val pos0 = br.i32()
        val rlen = br.i32()
        br.skip((lShared - 12).toLong + lIndiv)
        val vend = ps.virtualPacked
        if (chromIdx != lastChrom) {
          if (seen(chromIdx)) sorted = false
          seen += chromIdx
          lastChrom = chromIdx; lastPos = pos0
        } else if (pos0 < lastPos) sorted = false
        else lastPos = pos0
        if (chromIdx >= 0 && chromIdx < refs.length) {
          val end0 = pos0 + math.max(rlen, 1)
          refs(chromIdx).chunk(BamFormat.reg2bin(pos0, end0), vbeg,
            if (vend == Long.MaxValue) (len << 16) else vend)
          refs(chromIdx).window(pos0, end0, vbeg)
        }
      }
    }
    // Render CSI v1 (BCF flavor: empty aux — dictionaries live in the
    // data file's own header).
    val out = new java.io.DataOutputStream(new BamFormat.BgzfOutputStream(rawOut))
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
    out.write('C'); out.write('S'); out.write('I'); out.write(1)
    le32(14); le32(5)
    le32(0) // l_aux: empty for BCF
    le32(contigs.length)
    var ri = 0
    while (ri < contigs.length) {
      val r = refs(ri)
      le32(r.bins.size)
      r.bins.foreach { case (bin, chunks) =>
        le32(bin); le64(if (sorted) GraftIndexer.loffsetOf(r, bin) else 0L)
        le32(chunks.length)
        chunks.foreach { case (b, e) => le64(b); le64(e) }
      }
      ri += 1
    }
    out.flush()
    out.close()
  }
}
