package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

import java.nio.charset.StandardCharsets

/** Variant table over REAL `.vcf` text (SURVEY §2.1 S4) — the last
  * common genomics interchange format, read without any external codec.
  * The reference scans VCF through Glow
  * (`datasources/VCF/VCFRelation.scala:14-62`) and exposes the renamed
  * surface `contig/pos_start/pos_end/ref/alt` with contig cleaning
  * (`:38-45`) plus optional Glow normalization modes (`:30-37`); Glow is
  * absent offline, but VCF is tab-separated text with a `##` meta header
  * and one `#CHROM` column line — squarely what [[SamSource]] already
  * does, so the parse is the same codegen-expression pipeline over
  * `spark.read.text`.
  *
  * Surface (engine conventions — 1-based inclusive coordinates):
  *   contig (cleaned), pos_start (= POS), pos_end (= POS + len(REF) − 1,
  *   the interval-join convention), id, ref, alt (comma-joined exactly as
  *   in the file — [[graft.operators.VariantOps.splitMultiallelic]]
  *   decomposes), qual (double), filter, info, and — when the `#CHROM`
  *   line declares genotype columns — `format` plus ONE STRING COLUMN PER
  *   SAMPLE carrying the raw genotype field (named after the sample).
  *   `.` placeholders map to null throughout.
  *
  * Options: `path` (required); `normalizationMode` = `normalize` |
  * `split_and_normalize` (the reference's option names) applies the
  * column-preserving vt/bcftools left-align rewrite
  * ([[graft.operators.VariantOps.normalizeInPlace]]) at scan time.
  *
  * Scale: the text source is natively splittable (a VCF data line is a
  * record, headers are a per-file prefix), every field parse is a
  * codegen'd expression, and pruning/pushdown delegate to Catalyst
  * through [[GraftBaseRelation]] — a 100 TB VCF corpus scans like any
  * text dataset. Sample names are read once on the driver from the first
  * file's `#CHROM` line (a bounded header prefix, not a data scan). */
class VcfSource extends org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "vcf"

  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path", sys.error("VcfSource requires a 'path' option"))
    val mode = parameters.get("normalizationMode").map(_.toLowerCase)
    require(mode.forall(m => m == "normalize" || m == "split_and_normalize"),
      s"VcfSource: unknown normalizationMode '${mode.get}'")
    // `genotypes 'typed'` appends the Glow-shaped typed genotypes column
    // (header-driven, see [[VcfFormat.genotypesColumn]]); default off so
    // the raw-string surface keeps its schema.
    val gmode = parameters.get("genotypes").map(_.toLowerCase)
    require(gmode.forall(_ == "typed"),
      s"VcfSource: unknown genotypes mode '${gmode.get}' (expected 'typed')")
    val typedGt = gmode.isDefined
    new GraftBaseRelation with org.apache.spark.sql.sources.InsertableRelation {
      override val sqlContext: SQLContext = ctx
      override protected def sourcePath: Option[String] = Some(path)
      override protected def frame(): DataFrame =
        VcfFormat.frameFor(ctx.sparkSession, path, mode, typedGenotypes = typedGt)
      // Region predicates prune line-aligned BGZF members through the
      // `.gvi` sidecars / standard tabix indexes (when every matched
      // file has one); otherwise the MEMOIZED unpruned frame is served
      // (no per-query rebuild of the parse pipeline).
      override protected def frame(
          filters: Array[org.apache.spark.sql.sources.Filter]): DataFrame =
        VcfFormat.prunedFrameFor(ctx.sparkSession, path, mode, filters, typedGt)
          .getOrElse(unprunedFrame)
      // `INSERT INTO` over a VCF table: append writes new shards.
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        VcfFormat.writeInferred(data, path, overwrite)
        invalidateMemo() // freshness must not rest on mtime granularity
      }
    }
  }

  /** CTAS: `CREATE TABLE t USING graft.sources.VcfSource
    * OPTIONS (path ...) AS SELECT ...` renders the query result as
    * sharded `.vcf` text. Any column beyond the core VCF surface is
    * written as a genotype sample column (with `format` as FORMAT when
    * present) — the inverse of the reader's `#CHROM`-driven schema. */
  override def createRelation(ctx: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val path = parameters.getOrElse("path", sys.error("VcfSource requires a 'path' option"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    // ErrorIfExists is Spark's CATALOG guarantee (the table name is
    // fresh); stale bytes at the path are overwritten like any file
    // source's CTAS would.
    mode match {
      case SaveMode.Ignore if exists => ()
      case m => VcfFormat.writeInferred(data, path, m != SaveMode.Append)
    }
    createRelation(ctx, parameters)
  }
}

object VcfFormat {

  /** Sidecar member-envelope suffix (`x.vcf.gz` → hidden sibling
    * `.x.vcf.gz.gvi`): one line per LINE-ALIGNED BGZF member — `offset
    * minStart maxEnd nLines contigs` (cleaned, comma-joined, `*` = too
    * many to enumerate). Dot-prefixed so text readers never see it. */
  val IndexSuffix = ".gvi"

  private[sources] def gviPath(file: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(file.getParent, "." + file.getName + IndexSuffix)

  /** Contig/position constraints foldable from pushed predicates (the
    * shapes the member envelopes can answer). */
  private[sources] def foldRegion(filters: Array[org.apache.spark.sql.sources.Filter])
      : (Option[Set[String]], Int, Int, Int, Int) = {
    import org.apache.spark.sql.sources._
    var contigs: Option[Set[String]] = None
    var sMin = Int.MinValue; var sMax = Int.MaxValue
    var eMin = Int.MinValue; var eMax = Int.MaxValue
    def asInt(v: Any): Option[Int] = v match {
      case i: Int => Some(i)
      case l: Long if l == l.toInt => Some(l.toInt)
      case s: Short => Some(s.toInt)
      case _ => None
    }
    filters.foreach {
      case EqualTo("contig", v: String) =>
        contigs = Some(contigs.fold(Set(v))(_ intersect Set(v)))
      case In("contig", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        contigs = Some(contigs.fold(s)(_ intersect s))
      case EqualTo(a, v) if a == "pos_start" || a == "pos_end" =>
        asInt(v).foreach { x =>
          if (a == "pos_start") { sMin = math.max(sMin, x); sMax = math.min(sMax, x) }
          else { eMin = math.max(eMin, x); eMax = math.min(eMax, x) }
        }
      case GreaterThan(a, v) if a == "pos_start" || a == "pos_end" =>
        asInt(v).foreach(x => if (a == "pos_start") sMin = math.max(sMin, x + 1)
          else eMin = math.max(eMin, x + 1))
      case GreaterThanOrEqual(a, v) if a == "pos_start" || a == "pos_end" =>
        asInt(v).foreach(x => if (a == "pos_start") sMin = math.max(sMin, x)
          else eMin = math.max(eMin, x))
      case LessThan(a, v) if a == "pos_start" || a == "pos_end" =>
        asInt(v).foreach(x => if (a == "pos_start") sMax = math.min(sMax, x - 1)
          else eMax = math.min(eMax, x - 1))
      case LessThanOrEqual(a, v) if a == "pos_start" || a == "pos_end" =>
        asInt(v).foreach(x => if (a == "pos_start") sMax = math.min(sMax, x)
          else eMax = math.min(eMax, x))
      case _ => ()
    }
    (contigs, sMin, sMax, eMin, eMax)
  }

  /** Region-pruned raw `value` frame: when EVERY matched file carries an
    * index — the engine's `.gvi` member-envelope sidecar OR a standard
    * tabix `.tbi` (externally-produced bgzip) — and the predicates
    * constrain contig/position, plan one task per run of kept
    * members/chunk ranges and inflate ONLY those. Returns
    * None when pruning does not apply — the caller falls back to the
    * ordinary splittable text scan. Always a SUPERSET of the
    * predicate's rows; the engine re-applies the filters. Shared by the
    * line formats: `withFile` adds the `_file` column (S7
    * sample-from-filename sources), `samples` keeps only the files whose
    * file-name sample is listed, and `commentPrefix` marks header lines
    * (`@` for SAM). */
  private[sources] def prunedRawImpl(spark: org.apache.spark.sql.SparkSession,
      path: String, filters: Array[org.apache.spark.sql.sources.Filter],
      withFile: Boolean = false,
      samples: Option[Set[String]] = None,
      commentPrefix: Char = '#'): Option[DataFrame] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (contigs, sMin, sMax, eMin, eMax) = foldRegion(filters)
    val constrained = contigs.isDefined || sMin != Int.MinValue ||
      sMax != Int.MaxValue || eMin != Int.MinValue || eMax != Int.MaxValue
    if (!constrained && samples.isEmpty) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val snap = SourceUtil.dirSnapshot(fs, path)
    val files = snap.dataFiles
      .filterNot(_.getPath.getName.endsWith(IndexSuffix))
    if (files.isEmpty) return None
    // S7 file-level sample pruning composes: a sample predicate keeps
    // only matching files before the member envelopes are consulted.
    val sampled = files.filter(st => samples.forall(_.contains(BamSource.sampleOf(st))))
    // pos_start <= pos_end bounds both axes of the envelope.
    val startCap = math.min(sMax.toLong, eMax.toLong)
    val endFloor = math.max(sMin.toLong, eMin.toLong)
    // A task is (file, len, gvi members, tbi virtual-offset ranges) —
    // exactly one of the two seqs is populated, per the file's index.
    type Task = (String, Long, Seq[(Long, Int)], Seq[(Long, Long)])
    // Each kept member is (offset, lead): lead = inflated offset of the
    // first line STARTING in the member. Engine-written sidecars are
    // line-aligned 5-field entries (lead 0); [[GraftIndexer]] emits a 6th
    // field for externally-produced bgzip whose members cut lines.
    def gviTasks(st: org.apache.hadoop.fs.FileStatus,
        idxSt: org.apache.hadoop.fs.FileStatus): Seq[Task] = {
      val file = st.getPath.toString
      val len = st.getLen
      // Per-query work on an unchanged sidecar is the in-memory envelope
      // filter below; the parse is memoized per (path, mtime, len).
      val kept = gviEntries(fs, idxSt).flatMap {
        case (off, minS, maxE, cs, lead) =>
          val contigOk = contigs.isEmpty || cs == "*" ||
            cs.split(',').exists(contigs.get.contains)
          val posOk = minS <= startCap && maxE >= endFloor
          if (contigOk && posOk && lead >= 0) Some((off, lead)) else None
      }
      // Chunk runs of kept members into bounded tasks.
      kept.grouped(256).map(g => (file, len, g.toSeq, Nil)).toSeq
    }
    // Standard tabix `.tbi` or CSI `.csi` (externally-produced bgzip the
    // engine did not index): spec bins → merged BGZF virtual-offset
    // ranges, the text twin of the BAM `.bai` path. Contig names in the
    // index are raw — cleaned here to match the engine's predicate space.
    def tbiTasks(st: org.apache.hadoop.fs.FileStatus): Option[Seq[Task]] = {
      import org.apache.hadoop.fs.{Path => HPath}
      val (idxSt, isCsi) =
        snap.sidecar(fs, new HPath(st.getPath.toString + ".tbi")).map((_, false))
          .orElse(snap.sidecar(fs, new HPath(st.getPath.toString + ".csi")).map((_, true)))
          .getOrElse(return None)
      val idxPath = idxSt.getPath
      val parsed = tabixIndex(fs, idxSt, isCsi)
      val (names, chunksOf) =
        if (!isCsi) {
          val idx = parsed.swap.toOption.get
          val beg1 =
            if (endFloor == Int.MinValue.toLong) 1L
            else math.min(math.max(1L, endFloor), (1L << 29) - 1)
          val end1 = math.max(beg1, math.min(startCap, (1L << 29) - 1))
          (idx.names, (r: Int) => BamFormat.BaiIndex.chunksFor(
            idx.refs(r), beg1.toInt, end1.toInt))
        } else {
          val idx = parsed.toOption.get
          require(idx.names.nonEmpty,
            s"CSI index at '$idxPath' carries no tabix aux (BAM-flavored?)")
          val maxPos = 1L << (idx.minShift + idx.depth * 3)
          val beg1 =
            if (endFloor == Int.MinValue.toLong) 1L
            else math.min(math.max(1L, endFloor), maxPos - 1)
          val end1 = math.max(beg1, math.min(startCap, maxPos - 1))
          (idx.names, (r: Int) => BamFormat.CsiIndex.chunksFor(
            idx.refs(r), beg1, end1, idx.minShift, idx.depth, idx.loffsets(r)))
        }
      val refIdxs = names.indices.filter(i => contigs.forall(
        _.contains(graft.functions.RangeFunctions.cleanContig(names(i)))))
      // Merge ranges ACROSS refs: bins of adjacent references can share
      // boundary blocks, and a block range read twice would duplicate
      // rows (filters are re-applied, but duplicates would survive).
      val merged = BamFormat.mergeRanges(refIdxs.flatMap(chunksOf))
      tbiPrunedFiles.increment()
      Some(merged.grouped(64).map(g =>
        (st.getPath.toString, st.getLen, Nil: Seq[(Long, Int)], g.toSeq)).toSeq)
    }
    val perFile: Seq[Option[Seq[Task]]] = sampled.map { st =>
      snap.sidecar(fs, gviPath(st.getPath)) match {
        case Some(idxSt) => Some(gviTasks(st, idxSt))
        case None if st.getPath.getName.endsWith(".gz") => tbiTasks(st)
        case None => None
      }
    }
    // A file with neither index defeats pruning for the whole path —
    // fall back to the ordinary splittable scan.
    if (perFile.exists(_.isEmpty)) return None
    val tasks: Seq[Task] = perFile.flatMap(_.get)
    val cols = if (withFile) Seq("value", "_file") else Seq("value")
    if (tasks.isEmpty)
      return Some(spark.createDataset(Seq.empty[(String, String)])(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING))
        .toDF("value", "_file").select(cols.map(col): _*))
    val taskConf = SourceUtil.taskConf(spark.sparkContext)
    val rdd = spark.sparkContext.parallelize(tasks, tasks.length)
      .flatMap { case (file, len, offs, ranges) =>
        val hp = new HPath(file)
        val in = hp.getFileSystem(taskConf.value.value).open(hp)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        // The header prefix is PER FORMAT: '#' for VCF, '@' for SAM. A
        // SAM QNAME may legally begin with '#' (spec charset [!-?A-~]),
        // so filtering on the wrong prefix would silently drop records
        // only when member pruning engages.
        //
        // Tabix-planned task: each merged (beg, end) virtual-offset range
        // starts AT a record start and ends just past one (the index
        // contract), so inflating exactly those bytes yields whole lines.
        val fromRanges = ranges.iterator.flatMap { case (vbeg, vend) =>
          val cBeg = vbeg >>> 16; val uBeg = (vbeg & 0xFFFFL).toInt
          val cEnd = vend >>> 16; val uEnd = (vend & 0xFFFFL).toInt
          val buf = new java.io.ByteArrayOutputStream(64 * 1024)
          val members = BamFormat.bgzfMembers(in, len, cBeg)
          var done = false
          while (!done && members.hasNext) {
            val (mo, bytes) = members.next()
            if (mo > cEnd || (mo == cEnd && uEnd == 0)) done = true
            else {
              val from = if (mo == cBeg) uBeg else 0
              val to = if (mo == cEnd) math.min(uEnd, bytes.length) else bytes.length
              if (to > from) buf.write(bytes, from, to - from)
              if (mo >= cEnd) done = true
            }
          }
          new String(buf.toByteArray, StandardCharsets.UTF_8)
            .linesIterator.filter(l => l.nonEmpty && l.charAt(0) != commentPrefix)
            .map(l => (l, file))
        }
        fromRanges ++ offs.iterator.flatMap { case (off, lead) =>
          // A member owns the lines STARTING in it, from `lead` on. When
          // the final line spans the member boundary (bgzip-CLI layout,
          // indexed by GraftIndexer), keep inflating the member chain
          // until its newline lands — adjacent kept members then skip
          // those continuation bytes through their own lead, so every
          // line is read exactly once.
          val members = BamFormat.bgzfMembers(in, len, off)
          val first = members.next()._2
          val buf = new java.io.ByteArrayOutputStream(first.length - lead + 64)
          buf.write(first, lead, first.length - lead)
          var last: Byte = if (first.length > lead) first(first.length - 1) else '\n'
          while (last != '\n' && members.hasNext) {
            val nxt = members.next()._2
            if (nxt.nonEmpty) {
              var nl = 0
              while (nl < nxt.length && nxt(nl) != '\n') nl += 1
              if (nl == nxt.length) { buf.write(nxt, 0, nxt.length); last = nxt(nxt.length - 1) }
              else { buf.write(nxt, 0, nl + 1); last = '\n' }
            }
          }
          new String(buf.toByteArray, StandardCharsets.UTF_8)
            .linesIterator.filter(l => l.nonEmpty && l.charAt(0) != commentPrefix)
            .map(l => (l, file))
        }
      }
    Some(spark.createDataset(rdd)(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING))
      .toDF("value", "_file").select(cols.map(col): _*))
  }

  /** One `##INFO=<ID=...,Number=...,Type=...>` (or `##FORMAT=`)
    * declaration. `number` is kept verbatim (`0`/`1`/`A`/`R`/`G`/`.`);
    * `vtype` is the VCF Type. */
  case class VcfInfoField(id: String, number: String, vtype: String)

  /** Driver-side header metadata for a VCF path: the `#CHROM` genotype
    * sample names plus the declared INFO and FORMAT fields. */
  case class VcfHeaderMeta(samples: Seq[String], infos: Seq[VcfInfoField],
      formats: Seq[VcfInfoField] = Nil)

  /** File-header reads performed (test observability for the
    * per-(path, files-fingerprint) memoization). */
  private[graft] val headerReads = new java.util.concurrent.atomic.LongAdder()

  /** Files whose region pruning was planned through a standard tabix
    * `.tbi` index (test observability). */
  private[graft] val tbiPrunedFiles = new java.util.concurrent.atomic.LongAdder()

  // path -> (files fingerprint, parsed meta). The fingerprint covers
  // every matched file's (name, mtime, length), so appends/overwrites
  // invalidate; planning a query re-reads ZERO headers on a hit — the
  // pre-memoization behavior re-read the header on every planning pass.
  private val headerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, VcfHeaderMeta)]()

  // Parsed index sidecars, memoized per (path, mtime, len) — same
  // posture as headerCache: planning a region query against an unchanged
  // index re-reads ZERO bytes (the pre-memoization behavior re-read and
  // re-parsed every sidecar on every planning pass). Entries: gvi member
  // envelopes (offset, minStart, maxEnd, contigs, lead); tabix = the
  // parsed `.tbi` (Left) or `.csi` (Right) bin structure.
  private val gviCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Vector[(Long, Int, Int, String, Int)])]()
  private val tabixCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Either[BamFormat.TbiIndex.Tbi, BamFormat.CsiIndex.Csi])]()

  private def idxToken(st: org.apache.hadoop.fs.FileStatus): String =
    s"${st.getModificationTime}:${st.getLen}"

  private[sources] def gviEntries(fs: org.apache.hadoop.fs.FileSystem,
      idxSt: org.apache.hadoop.fs.FileStatus): Vector[(Long, Int, Int, String, Int)] = {
    val key = idxSt.getPath.toString
    val tok = idxToken(idxSt)
    val hit = gviCache.get(key)
    if (hit != null && hit._1 == tok) return hit._2
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(idxSt.getPath), StandardCharsets.UTF_8))
    val all = try {
      SourceUtil.parsingIndex(".gvi member", key) {
        Iterator.continually(rd.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).map { l =>
            val f = l.split('\t')
            (f(0).toLong, f(1).toInt, f(2).toInt, f(4),
              if (f.length > 5) f(5).toInt else 0)
          }.toVector
      }
    } finally rd.close()
    if (gviCache.size > 4096) gviCache.clear()
    gviCache.put(key, (tok, all))
    all
  }

  private[sources] def tabixIndex(fs: org.apache.hadoop.fs.FileSystem,
      idxSt: org.apache.hadoop.fs.FileStatus, isCsi: Boolean)
      : Either[BamFormat.TbiIndex.Tbi, BamFormat.CsiIndex.Csi] = {
    val key = idxSt.getPath.toString
    val tok = idxToken(idxSt)
    val hit = tabixCache.get(key)
    if (hit != null && hit._1 == tok) return hit._2
    // Both index containers are themselves BGZF and small (KBs of bins
    // per GB of data) — inflate whole on the driver. The wrapper covers
    // inflation too: a half-copied index dies in the BGZF layer.
    val parsed: Either[BamFormat.TbiIndex.Tbi, BamFormat.CsiIndex.Csi] =
      SourceUtil.parsingIndex(if (isCsi) ".csi" else ".tbi", idxSt.getPath) {
        val data = {
          val in = fs.open(idxSt.getPath)
          try {
            val buf = new java.io.ByteArrayOutputStream()
            BamFormat.bgzfMembers(in, idxSt.getLen, 0L)
              .foreach { case (_, b) => buf.write(b) }
            buf.toByteArray
          } finally in.close()
        }
        if (isCsi) Right(BamFormat.CsiIndex.read(data))
        else Left(BamFormat.TbiIndex.read(data))
      }
    if (tabixCache.size > 4096) tabixCache.clear()
    tabixCache.put(key, (tok, parsed))
    parsed
  }

  private val InfoDecl =
    """##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*>""".r
  private val FormatDecl =
    """##FORMAT=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+).*>""".r

  /** [[VcfHeaderMeta]] from header LINES (the `##`/`#CHROM` prefix of a
    * text VCF — or the embedded header text of a binary BCF, which is
    * the same grammar). */
  private[sources] def parseHeaderLines(lines: Iterator[String]): VcfHeaderMeta = {
    val infos = Seq.newBuilder[VcfInfoField]
    val formats = Seq.newBuilder[VcfInfoField]
    var samples: Seq[String] = Nil
    var done = false
    while (!done && lines.hasNext) {
      val line = lines.next()
      if (line.startsWith("##")) line match {
        case InfoDecl(id, num, tpe) => infos += VcfInfoField(id, num, tpe)
        case FormatDecl(id, num, tpe) => formats += VcfInfoField(id, num, tpe)
        case _ => ()
      } else {
        if (line.startsWith("#CHROM")) {
          val f = line.split("\t", -1)
          if (f.length > 9) samples = f.drop(9).toSeq
        }
        done = true // first non-## line ends the header
      }
    }
    VcfHeaderMeta(samples, infos.result(), formats.result())
  }

  private def readOneHeader(fs: org.apache.hadoop.fs.FileSystem,
      file: org.apache.hadoop.fs.Path): VcfHeaderMeta = {
    headerReads.increment()
    val raw: java.io.InputStream = fs.open(file)
    // bgzipped .vcf.gz is standard; the JDK gzip engine consumes BGZF
    // members natively, and the header sits at the file head. A binary
    // .bcf embeds the same header text after its magic.
    val rd: java.io.BufferedReader =
      if (file.getName.endsWith(".bcf"))
        new java.io.BufferedReader(new java.io.StringReader(
          BcfFormat.headerText(raw)))
      else {
        val in =
          if (file.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
          else raw
        new java.io.BufferedReader(
          new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      }
    try parseHeaderLines(
      Iterator.continually(rd.readLine()).takeWhile(_ != null))
    finally rd.close()
  }

  /** Header metadata for every file matched by `path` — memoized per
    * (path, files-fingerprint), one BOUNDED header-prefix read per file
    * on a miss, zero reads on a hit. Files declaring DIFFERENT `#CHROM`
    * sample columns fail loudly with the file names (the reader derives
    * ONE schema for the whole directory; silently adopting file 1's
    * would drop the others' genotype columns). Conflicting
    * re-declarations of the same INFO ID fail the same way; disjoint
    * declarations union. */
  private[graft] def headerMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): VcfHeaderMeta = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files = SourceUtil.listDataFiles(fs, path)
    require(files.nonEmpty, s"VcfSource: no files match '$path'")
    val fp = files.map(st =>
      s"${st.getPath}:${st.getModificationTime}:${st.getLen}").mkString("|")
    val hit = headerCache.get(path)
    if (hit != null && hit._1 == fp) return hit._2

    val perFile = files.map(st => st.getPath -> readOneHeader(fs, st.getPath))
    val bySamples = perFile.groupBy(_._2.samples)
    require(bySamples.size <= 1, {
      val desc = bySamples.map { case (ss, fsOf) =>
        s"[${ss.mkString(",")}] in ${fsOf.map(_._1.getName).mkString(", ")}"
      }.mkString("; ")
      s"VcfSource: conflicting #CHROM sample columns across files at '$path': $desc"
    })
    def mergeDecls(kind: String, of: VcfHeaderMeta => Seq[VcfInfoField]): Seq[VcfInfoField] = {
      val byId = scala.collection.mutable.LinkedHashMap.empty[String, (VcfInfoField, String)]
      perFile.foreach { case (f, m) =>
        of(m).foreach { i =>
          byId.get(i.id) match {
            case Some((prev, prevFile)) =>
              require(prev == i, s"VcfSource: conflicting ##$kind declarations " +
                s"for '${i.id}' at '$path': $prev in $prevFile vs $i in ${f.getName}")
            case None => byId(i.id) = (i, f.getName)
          }
        }
      }
      byId.values.map(_._1).toSeq
    }
    val meta = VcfHeaderMeta(perFile.head._2.samples,
      mergeDecls("INFO", _.infos), mergeDecls("FORMAT", _.formats))
    headerCache.put(path, (fp, meta))
    meta
  }

  /** Sample names from the `#CHROM` header (fields after FORMAT). Empty
    * when the files carry no genotype columns. */
  private[graft] def headerSamples(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] =
    headerMeta(spark, path).samples

  private def dot(c: Column): Column = when(c === ".", lit(null)).otherwise(c)

  /** Typed `info_<ID>` column for one declared INFO field, derived from
    * the raw `info` string with stock codegen functions (str_to_map over
    * the ';'/'=' grammar — the same parse the reference reaches through
    * Glow's VCF schema, `VCFRelation.scala:25-49`). Number=0 (Flag) →
    * boolean presence; Number=1 → scalar of the declared type; any other
    * Number (A/R/G/./n) → array of the declared type (`.` placeholders
    * and absent keys are null throughout). */
  private def infoColumn(f: VcfInfoField): Column = {
    val kv = str_to_map(coalesce(col("info"), lit("")), lit(";"), lit("="))
    def cast(c: Column): Column = f.vtype match {
      case "Integer" => c.cast("int")
      case "Float" => c.cast("double")
      case _ => c // String / Character stay text
    }
    val rawV = dot(element_at(kv, lit(f.id)))
    val typed = f.number match {
      case "0" => map_contains_key(kv, lit(f.id))
      case "1" => cast(rawV)
      case _ => transform(split(rawV, ","), x => cast(dot(x)))
    }
    typed.as(s"info_${f.id}")
  }

  /** Glow-shaped typed `genotypes` column (the surface the reference
    * inherits through `VCFRelation.scala:25-49`): one
    * `array<struct<sample_id, calls, phased, <FORMAT fields>>>` built
    * from the raw per-sample strings with stock codegen functions. Field
    * positions follow each ROW's `FORMAT` value (`array_position` over
    * the split keys — the spec allows per-record field order/subsets), so
    * a field absent from a row's FORMAT is null. `GT` becomes
    * `calls: array<int>` (missing alleles → −1, Glow/htsjdk convention)
    * plus `phased: boolean`; every other declared `##FORMAT` field types
    * as `##INFO` does — Number=1 scalars, otherwise arrays. All `get()`
    * accesses are 0-based null-safe, so per-row FORMAT subsets and `.`
    * placeholders never throw under ANSI. */
  private[graft] def genotypesColumn(meta: VcfHeaderMeta): Column = {
    val fkeys = split(col("format"), ":")
    // 1-based array_position (0 = absent) folded to a 0-based get index
    // (-1 = absent → null), per row.
    def fieldRaw(sampleCol: Column, id: String): Column =
      dot(get(split(sampleCol, ":"),
        (array_position(fkeys, lit(id)) - 1).cast("int")))
    def cast(f: VcfInfoField)(c: Column): Column = f.vtype match {
      case "Integer" => c.cast("int")
      case "Float" => c.cast("double")
      case _ => c
    }
    val structs = meta.samples.map { s =>
      val gt = fieldRaw(col(s), "GT")
      val calls = transform(split(gt, "[/|]"),
        x => when(x === "" || x === ".", lit(-1)).otherwise(x.cast("int")))
      val declared = meta.formats.filter(_.id != "GT").map { f =>
        val raw = fieldRaw(col(s), f.id)
        val typed = f.number match {
          case "1" => cast(f)(raw)
          case _ => transform(split(raw, ","), x => cast(f)(dot(x)))
        }
        typed.as(f.id)
      }
      struct((lit(s).as("sample_id") +: calls.as("calls") +:
        gt.contains("|").as("phased") +: declared): _*)
    }
    array(structs: _*).as("genotypes")
  }

  /** The VCF line parse as pure column expressions over a `value` text
    * column — shared verbatim by the batch relation and the file-stream
    * ingest ([[graft.streaming.StreamingOps.vcfStream]]): both surfaces
    * parse identically because they ARE the same expressions. */
  private[graft] def parse(raw: DataFrame, samples: Seq[String]): DataFrame =
    parse(raw, VcfHeaderMeta(samples, Nil))

  private[graft] def parse(raw: DataFrame, meta: VcfHeaderMeta): DataFrame = {
    val samples = meta.samples
    val data =
      raw.filter(!col("value").startsWith("#") && length(col("value")) > 0)
    val f = split(col("value"), "\t")
    // get() (null out of bounds), NOT getItem: pushed-down predicates
    // share a Filter with the '#' header guard, and the non-WSCG
    // FilterExec's subexpression elimination evaluates the shared
    // split-access EAGERLY — getItem would throw on a short `##` meta
    // line before the guard runs (same hazard as SamSource).
    val fixed = Seq(
      dot(get(f, lit(0))).as("contig"),
      get(f, lit(1)).cast("int").as("pos_start"),
      dot(get(f, lit(2))).as("id"),
      get(f, lit(3)).as("ref"),
      dot(get(f, lit(4))).as("alt"),
      dot(get(f, lit(5))).cast("double").as("qual"),
      dot(get(f, lit(6))).as("filter"),
      dot(get(f, lit(7))).as("info"))
    val gts =
      if (samples.isEmpty) Nil
      else dot(get(f, lit(8))).as("format") +:
        samples.zipWithIndex.map { case (n, i) => dot(get(f, lit(9 + i))).as(n) }
    data.select(fixed ++ gts: _*)
      .withColumn("pos_end",
        (col("pos_start") + length(col("ref")) - 1).cast("int"))
      .withColumn("contig", SourceUtil.cleanContigCol(col("contig")))
      .select(
        (Seq("contig", "pos_start", "pos_end", "id", "ref", "alt", "qual",
          "filter", "info").map(col) ++
          meta.infos.map(infoColumn) ++
          gts.indices.map(i =>
            col(if (i == 0) "format" else samples(i - 1)))): _*)
  }

  private[sources] def frameFor(spark: org.apache.spark.sql.SparkSession,
      path: String, mode: Option[String],
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      typedGenotypes: Boolean = false): DataFrame = {
    // Member pruning only applies on file coordinates — normalization
    // modes MOVE pos_start (left-align), so envelopes on raw positions
    // could wrongly drop a row that normalizes into the queried range.
    val raw =
      if (mode.isDefined || filters.isEmpty) SourceUtil.textFrame(spark, path)
      else prunedRawImpl(spark, path, filters)
        .getOrElse(SourceUtil.textFrame(spark, path))
    assemble(spark, path, raw, mode, typedGenotypes)
  }

  /** Index-pruned variant of [[frameFor]]: None when member/tabix
    * pruning does not engage, so the relation serves its MEMOIZED
    * unpruned frame instead of re-building the parse pipeline (file
    * listing, header reads, analysis) on every query. */
  private[sources] def prunedFrameFor(spark: org.apache.spark.sql.SparkSession,
      path: String, mode: Option[String],
      filters: Array[org.apache.spark.sql.sources.Filter],
      typedGenotypes: Boolean): Option[DataFrame] =
    if (mode.isDefined || filters.isEmpty) None
    else prunedRawImpl(spark, path, filters)
      .map(raw => assemble(spark, path, raw, mode, typedGenotypes))

  private def assemble(spark: org.apache.spark.sql.SparkSession,
      path: String, raw: DataFrame, mode: Option[String],
      typedGenotypes: Boolean): DataFrame = {
    val meta = headerMeta(spark, path)
    val parsed = parse(raw, meta)
    val ordered =
      if (!typedGenotypes) parsed
      else {
        require(meta.samples.nonEmpty,
          s"VcfSource: genotypes 'typed' requires #CHROM sample columns at '$path'")
        parsed.withColumn("genotypes", genotypesColumn(meta))
      }
    mode match {
      case Some("normalize") =>
        graft.operators.VariantOps.normalizeInPlace(ordered)
      case Some("split_and_normalize") =>
        val split = graft.operators.VariantOps.splitInPlace(ordered)
        // Allele-indexed INFO arrays re-slice per decomposed allele
        // (Glow's split semantics, `VCFRelation.scala:25-49` through the
        // reference; `get` is 0-based and null-safe out of range):
        // Number=A keeps exactly THIS allele's element as a scalar;
        // Number=R (ref + one per alt) becomes the 2-element
        // [ref_value, this_allele_value] pair.
        val aligned = meta.infos.foldLeft(split) { (df, i) =>
          i.number match {
            case "A" => df.withColumn(s"info_${i.id}",
              get(col(s"info_${i.id}"), col("allele_idx") - 1))
            // An ABSENT key stays null: without the guard, array(get(
            // null,0), get(null,idx)) evaluates to a PRESENT [null,null]
            // pair, diverging from Glow's split semantics where a missing
            // INFO field remains missing on every split row (r15 review).
            case "R" => df.withColumn(s"info_${i.id}",
              when(col(s"info_${i.id}").isNull, lit(null))
                .otherwise(array(get(col(s"info_${i.id}"), lit(0)),
                  get(col(s"info_${i.id}"), col("allele_idx")))))
            case _ => df
          }
        }
        graft.operators.VariantOps.normalizeInPlace(aligned)
      case _ => ordered
    }
  }

  /** [[writeVcf]] with the genotype columns INFERRED from the frame:
    * every column outside the core VCF surface is a sample column, and
    * `format` (when present) is the FORMAT column — the inverse of the
    * reader's `#CHROM`-driven dynamic schema. Used by CTAS/INSERT. */
  def writeInferred(df: DataFrame, path: String,
      overwrite: Boolean = true): Unit = {
    val core = Set("contig", "pos_start", "pos_end", "id", "ref", "alt",
      "qual", "filter", "info", "format")
    // Typed `info_<ID>` projections of the raw `info` column (and the
    // split mode's allele_idx) are derived surface, not genotype data —
    // the `info` column already round-trips their content.
    val sampleCols = df.columns
      .filterNot(c => core(c) || c.startsWith("info_") || c == "allele_idx" ||
        c == "genotypes")
      .toSeq
    val formatCol = if (df.columns.contains("format")) Some("format") else None
    writeVcf(df, path, sampleCols, formatCol, overwrite)
  }

  /** Optional VCF field `n` of `df` as text: `.` when the frame lacks the
    * column or the value is null (the spec's missing value). */
  private[sources] def optField(df: DataFrame, n: String): Column =
    coalesce(ShardedSink.optCol(df, n, lit(".")).cast("string"), lit("."))

  /** VCF sink (the write half of the S4 round trip): renders a variant
    * frame as a [[ShardedSink]] directory of fully-headed
    * `part-NNNNN[-token].vcf` shards — one per task, each with the
    * `##fileformat` meta lines and the `#CHROM` column line, so every
    * shard is independently a valid VCF (the same output shape as
    * [[SourceUtil.writeBam]]); an empty frame leaves one header-only
    * `part-00000.vcf`. Expected columns: `contig, pos_start, ref` plus
    * optional `id/alt/qual/filter/info`; `sampleCols` names columns
    * holding raw genotype strings, written under those sample names with
    * `formatCol` (default the literal `GT`). Nulls render as `.` per
    * spec. The rendering is ONE codegen concat per row — the executors
    * stream lines, nothing collects. `bgzf = true` writes `.vcf.gz`
    * shards as BGZF members (the bgzip/tabix container); the reader
    * splits them at member granularity through the same seam as BAM. */
  def writeVcf(df: DataFrame, path: String, sampleCols: Seq[String] = Nil,
      formatCol: Option[String] = None, overwrite: Boolean = true,
      bgzf: Boolean = false, metaLines: Seq[String] = Nil): Unit = {
    val fixed = Seq(
      coalesce(col("contig").cast("string"), lit(".")),
      col("pos_start").cast("string"),
      optField(df, "id"), coalesce(col("ref").cast("string"), lit(".")),
      optField(df, "alt"), optField(df, "qual"), optField(df, "filter"),
      optField(df, "info"))
    val gts =
      if (sampleCols.isEmpty) Nil
      else formatCol.map(c => coalesce(col(c).cast("string"), lit("GT")))
        .getOrElse(lit("GT")) +:
        sampleCols.map(c => coalesce(col(c).cast("string"), lit(".")))
    val lineCol = concat_ws("\t", fixed ++ gts: _*).as("line")
    val header = "##fileformat=VCFv4.3\n##source=graft\n" +
      metaLines.map(_ + "\n").mkString +
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO") ++
        (if (sampleCols.isEmpty) Nil else "FORMAT" +: sampleCols))
        .mkString("\t") + "\n"
    // Envelope columns (bgzf only): cleaned contig, POS, POS+len(REF)-1.
    val rows =
      if (!bgzf) df.select(lineCol)
      else df.select(lineCol,
        SourceUtil.cleanContigCol(col("contig").cast("string")).as("contig"),
        col("pos_start").cast("int"),
        (col("pos_start") +
          length(coalesce(col("ref").cast("string"), lit("."))) - 1)
          .cast("int").as("pos_end"))
    // NOTE on appends: every shard carries its own full header, so
    // appended shards may declare different sample columns than existing
    // ones; the reader derives the schema from the FIRST file's header —
    // keep appends schema-consistent (the parquet-append contract).
    SourceUtil.writeShardedText(rows, path, ".vcf", header, overwrite, bgzf)
  }
}
