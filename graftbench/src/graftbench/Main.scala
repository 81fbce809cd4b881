package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.operators.CacheScope
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** State one pass hands to a workload's steps. In a traced pass each
  * layer's input is materialised (and released after the pass) before
  * the layer is timed, so a span covers one layer's work. */
final class Ctx(val spark: SparkSession, val probe: Probe, val traced: Boolean) {
  private val owned = mutable.ArrayBuffer.empty[DataFrame]
  val outputs = mutable.LinkedHashMap.empty[String, Either[Throwable, Any]]
  /** Diagnostics a traced pass gathers outside its step spans. */
  val extras = mutable.Map.empty[String, Any]

  /** Persist `df` in a traced pass and return it; untraced, `df` as is. */
  def materialize(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      owned += p
      p
    }

  def ownedCount: Int = owned.size

  def release(): Unit = { owned.foreach(_.unpersist(blocking = true)); owned.clear() }

  /** Run one step as span `name`; a throw is recorded, not propagated. */
  def step(name: String)(body: => Any): Unit = {
    val out =
      try Right(probe.span(name)(body))
      catch {
        case t: Throwable =>
          System.err.println(s"step $name failed: $t")
          t.printStackTrace(System.err)
          Left(t)
      }
    outputs(name) = out
  }
}

/** One benchmark workload: seeded inputs, the steps of one pass, the
  * checks of a pass's outputs and the layer metrics it owns. */
trait Workload {
  def name: String
  /** Session confs this workload sets beyond the common ones. */
  def confs: Map[String, String] = Map.empty
  /** Generate and cache the inputs (and write files) under `dir`. */
  def setup(spark: SparkSession, probe: Probe, dir: String): Unit
  def inputRows: Long
  /** Order-independent digest of every input table. */
  def digest: String
  def sizes: Map[String, Any]
  def pass(ctx: Ctx): Unit
  /** Problems found in a pass's outputs, by step (empty = all correct). */
  def check(outputs: Map[String, Any]): Map[String, String]
  /** Layer-specific metrics from the traced passes' spans and outputs. */
  def layerMetrics(r: Report): Map[String, Double]
  def release(): Unit
}

object Workload {
  def apply(name: String, seed: Long, toy: Boolean): Workload = name match {
    case "bam_annotate" => new BamAnnotate(seed, toy)
    case "corpus_curate" => new CorpusCurate(seed, toy)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("bam_annotate", "corpus_curate")
}

/** One pass's record: its root span, step outputs and end-of-pass state. */
final case class PassRecord(index: Int, traced: Boolean, root: Span,
    outputs: Map[String, Either[Throwable, Any]], extras: Map[String, Any], liveBroadcasts: Int,
    persistedRdds: Int, retainedHeapMb: Double)

/** Read-only view of a finished run for metric assembly. */
final class Report(val probe: Probe, val spans: Seq[Span], val passes: Seq[PassRecord],
    val cores: Int) {
  def median(xs: Seq[Double]): Double = Main.median(xs)
  /** Spans named `name` in pass `p`. */
  def named(p: PassRecord, name: String): Seq[Span] =
    spans.filter(s => s.pass == p.index && s.name == name)
  def inclusive(s: Span): Counters = probe.inclusive(s, spans)
  /** Median over `ps` of a per-pass sum over spans named `name`. */
  def perPass(ps: Seq[PassRecord], name: String)(f: Span => Double): Double =
    median(ps.map(p => named(p, name).map(f).sum))
  def traced: Seq[PassRecord] = passes.filter(_.traced)
  def untraced: Seq[PassRecord] = passes.filterNot(_.traced)
  /** Output of step (or traced extra) `name` in pass `p`, when it succeeded. */
  def output[T](p: PassRecord, name: String): Option[T] =
    p.outputs.get(name).flatMap(_.toOption).orElse(p.extras.get(name)).map(_.asInstanceOf[T])
}

object Main {

  val MiB: Double = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (all, steal) CPU ticks from `/proc/stat`; zeros where unreadable. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (f.sum, f.lift(7).getOrElse(0L))
    } catch { case _: Throwable => (0L, 0L) }

  @volatile private var calibSink = 0L

  /** Seconds a fixed hashing job takes on every core at once: a host-speed
    * probe, so runs on a slowed or contended host can be told apart. */
  private def calibrate(cores: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until cores).map { c =>
      new Thread(() => {
        var x = c.toLong
        var i = 0
        while (i < 50000000) { x = Gen.mix64(x); i += 1 }
        calibSink += x
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full GCs; the pauses let Spark's cleaner thread
    * drop state whose last reference the first collection cleared. */
  private def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
  }

  private def arg(args: Array[String], key: String, default: String): String = {
    val i = args.indexOf(key)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload", "")
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toDouble
    val trace = arg(args, "--trace", "0") == "1"
    val toy = arg(args, "--scale", "full") == "toy"
    val workDir = arg(args, "--dir", ".bench_build/run")
    val outFile = arg(args, "--out", s"$workDir/result.json")
    val setupReps = if (toy) 1 else 3
    require(Workload.names.contains(workload), s"--workload must be one of ${Workload.names}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workload(workload, seed, toy)

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    wl.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe(spark)
    try {
      // session.start: JVM start to a session with the engine attached.
      probe.span("session.start")(GraftSession(spark))
      val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3

      // Toy-size warm-up: one untimed pass over toy inputs, so class
      // loading and code generation stay out of the timed passes.
      val warmupS = {
        val t0 = System.nanoTime()
        probe.span("session.warmup") {
          val w = Workload(workload, seed + 1, toy = true)
          w.setup(spark, probe, s"$workDir/warmup")
          CacheScope.withCaches(w.pass(new Ctx(spark, probe, traced = false)))(_ => ())
          w.release()
        }
        (System.nanoTime() - t0) / 1e9
      }
      // Input set-up, repeated: setup_s reports the median repetition.
      val setupTimes = (0 until setupReps).map { rep =>
        if (rep > 0) wl.release()
        val t0 = System.nanoTime()
        wl.setup(spark, probe, s"$workDir/data")
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionStartS + median(setupTimes) + warmupS
      val baselinePersisted = spark.sparkContext.getPersistentRDDs.size

      // Closed loop, one client: each pass starts when the last ends.
      val passes = mutable.ArrayBuffer.empty[PassRecord]
      val loopStart = System.nanoTime()
      val ticksBefore = cpuTicks()
      var i = 0
      val minPasses = if (trace) 2 else 1
      while (i < minPasses || (System.nanoTime() - loopStart) / 1e9 < seconds) {
        val traced = trace && i % 2 == 1
        probe.pass = i
        probe.traced = traced
        val ctx = new Ctx(spark, probe, traced)
        var live = (0, 0, 0.0)
        CacheScope.withCaches {
          probe.span("pass")(wl.pass(ctx))
        } { _ =>
          val persisted = spark.sparkContext.getPersistentRDDs.size - baselinePersisted -
            ctx.ownedCount
          live = (SparkInternals.liveBroadcastBytes().size, persisted, retainedHeapMb())
        }
        ctx.release()
        val root = probe.spans().filter(s => s.pass == i && s.name == "pass").last
        passes += PassRecord(i, traced, root, ctx.outputs.toMap, ctx.extras.toMap,
          live._1, live._2, live._3)
        i += 1
      }
      probe.pass = -1
      val loadAfter = loadAvg()
      val ticksAfter = cpuTicks()
      val stealFrac = (ticksAfter._2 - ticksBefore._2).toDouble /
        math.max(1L, ticksAfter._1 - ticksBefore._1)
      val calibS = calibrate(cores)

      // Correctness, outside the timed window.
      val failures = mutable.ArrayBuffer.empty[String]
      var attempted = 0
      var failed = 0
      passes.foreach { p =>
        val ok = p.outputs.collect { case (k, Right(v)) => k -> v }
        val problems = wl.check(ok)
        p.outputs.foreach { case (step, out) =>
          attempted += 1
          val problem = out match {
            case Left(t) => Some(s"threw $t")
            case Right(_) => problems.get(step)
          }
          problem.foreach { msg => failed += 1; failures += s"pass ${p.index} $step: $msg" }
        }
      }
      failures.foreach(f => System.err.println(s"CHECK FAILED $f"))

      val report = new Report(probe, probe.spans(), passes.toSeq, cores)
      val metrics: Map[String, (Double, String)] =
        if (!trace) endToEnd(report, wl, setupS)
        else perLayer(report, wl, sessionStartS, setupTimes, warmupS, attempted, failed,
          loadBefore, loadAfter, stealFrac, calibS)

      val detail = Json.obj(
        "workload" -> workload, "seed" -> seed, "trace" -> trace, "toy" -> toy,
        "cores" -> cores, "nproc" -> cores, "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAfter, "steal_frac" -> stealFrac, "calib_s" -> calibS,
        "input_digest" -> wl.digest,
        "input_rows" -> wl.inputRows, "sizes" -> wl.sizes,
        "confs" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k.startsWith("spark.graft.") || k == "spark.master"
        },
        "setup_reps_s" -> setupTimes, "passes" -> passes.map(p =>
          Map("index" -> p.index, "traced" -> p.traced, "wall_s" -> p.root.wallS)),
        "failures" -> failures.toSeq,
        "metrics" -> metrics.map { case (k, (v, _)) => k -> v })
      write(outFile, detail)
      write(outFile.stripSuffix(".json") + ".spans.jsonl",
        report.spans.map { s =>
          Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
            "traced" -> s.traced, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
            "run_id" -> s"$workload-$seed")
        }.mkString("\n") + "\n")

      val line = Json.obj(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      spark.stop()
      println(line)
    } catch {
      case t: Throwable =>
        spark.stop()
        throw t
    }
  }

  private def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }

  private def endToEnd(r: Report, wl: Workload, setupS: Double): Map[String, (Double, String)] = {
    val ps = r.untraced
    val wall = r.median(ps.map(_.root.wallS))
    Map(
      "wall_s" -> (wall, "s"),
      "rows_per_s" -> (wl.inputRows / wall, "1/s"),
      "setup_s" -> (setupS, "s"),
      "shuffle_bytes" -> (r.median(ps.map(p => r.inclusive(p.root).shuffleBytes.toDouble)), "bytes"),
      "retained_heap_mb" -> (r.median(ps.map(_.retainedHeapMb)), "MiB"))
  }

  /** Every span name any workload opens; absent spans report 0. */
  val allSpans: Seq[String] = Seq(
    "sources.bam_scan", "sources.bam_region_scan", "functions.md_walk",
    "operators.coverage", "operators.pileup", "plans.count_join_bcast",
    "plans.full_join_bcast", "operators.nearest_k_bcast",
    "plans.count_join_binrange", "plans.pair_join_binrange",
    "operators.nearest_k_merge",
    "operators.minhash_pairs", "operators.dedup_clusters", "streaming.dedup_gate",
    "operators.ivf_train", "operators.ivf_serve", "operators.tokenize")

  val layers: Seq[String] = Seq("sources", "functions", "plans", "operators", "streaming")

  private def perLayer(r: Report, wl: Workload, sessionStartS: Double, setupTimes: Seq[Double],
      warmupS: Double, attempted: Int, failed: Int, loadBefore: Double, loadAfter: Double,
      stealFrac: Double, calibS: Double): Map[String, (Double, String)] = {
    val ps = r.traced
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val setupSpans = r.spans.filter(_.pass == -1)
    def setupMedian(name: String): Double =
      r.median(setupSpans.filter(s => s.name == name && s.parent == 0).map(_.wallS))
    m("session.start.wall_s") = (sessionStartS, "s")
    m("session.inputs.wall_s") = (r.median(setupTimes), "s")
    m("session.warmup.wall_s") = (warmupS, "s")
    m("sources.bam_write.wall_s") = (setupMedian("sources.bam_write"), "s")
    allSpans.foreach { n =>
      m(s"$n.wall_s") = (r.perPass(ps, n)(_.wallS), "s")
      m(s"$n.busy_s") = (r.perPass(ps, n)(s => r.inclusive(s).busyMs / 1e3), "s")
      m(s"$n.shuffle_bytes") = (r.perPass(ps, n)(s => r.inclusive(s).shuffleBytes.toDouble), "bytes")
      m(s"$n.spill_bytes") = (r.perPass(ps, n)(s => r.inclusive(s).spillBytes.toDouble), "bytes")
    }
    m("plans.plan.wall_s") = (r.perPass(ps, "plans.plan")(_.wallS), "s")

    val run = ps.map(p => (p, r.inclusive(p.root)))
    def runMedian(f: ((PassRecord, Counters)) => Double) = r.median(run.map(f))
    m("run.busy_s") = (runMedian(_._2.busyMs / 1e3), "s")
    m("run.slot_util") = (runMedian { case (p, c) => c.busyMs / 1e3 / (p.root.wallS * r.cores) }, "ratio")
    m("run.gc_s") = (runMedian(_._2.gcMs / 1e3), "s")
    m("run.peak_exec_mem_mb") = (runMedian(_._2.peakExecMem / MiB), "MiB")
    m("run.result_bytes") = (runMedian(_._2.resultBytes.toDouble), "bytes")
    m("run.input_bytes") = (runMedian(_._2.inputBytes.toDouble), "bytes")
    m("run.tasks") = (runMedian(_._2.tasks.toDouble), "count")
    m("run.stages") = (runMedian(_._2.stages.toDouble), "count")
    m("run.passes") = (ps.size.toDouble, "count")

    // Self time per layer: span wall minus its children's walls.
    layers.foreach { l =>
      m(s"layer.$l.self_s") = (r.median(ps.map { p =>
        val inPass = r.spans.filter(s => s.pass == p.index && s.layer == l)
        inPass.map(s => s.wallS - r.spans.filter(_.parent == s.id).map(_.wallS).sum).sum
      }), "s")
    }
    m("trace.gap_s") = (r.median(ps.map { p =>
      p.root.wallS - r.spans.filter(_.parent == p.root.id).map(_.wallS).sum
    }), "s")
    val untracedWall = r.median(r.untraced.map(_.root.wallS))
    m("trace.wall_ratio") = (r.median(ps.map(_.root.wallS)) / untracedWall, "ratio")
    m("session.live_broadcasts") = (r.median(ps.map(_.liveBroadcasts.toDouble)), "count")
    m("session.persisted_rdds") = (r.median(ps.map(_.persistedRdds.toDouble)), "count")
    m("failed_ops_frac") = (failed.toDouble / math.max(1, attempted), "ratio")
    m("host.nproc") = (r.cores.toDouble, "count")
    m("host.loadavg_before") = (loadBefore, "load")
    m("host.loadavg_after") = (loadAfter, "load")
    m("host.steal_frac") = (stealFrac, "ratio")
    m("host.calib_s") = (calibS, "s")
    val own = wl.layerMetrics(r)
    require(own.keySet.subsetOf(layerSpecific.keySet), s"unlisted metrics ${own.keySet -- layerSpecific.keySet}")
    layerSpecific.foreach { case (k, unit) => m(k) = (own.getOrElse(k, 0.0), unit) }
    m.toMap
  }

  /** Layer metrics owned by one workload, with units; 0 elsewhere. */
  val layerSpecific: Map[String, String] = Map(
    "sources.decode_rows_per_s" -> "1/s",
    "sources.region_rows_ratio" -> "ratio",
    "sources.region_bytes_ratio" -> "ratio",
    "sources.bam_write_mb_per_s" -> "MiB/s",
    "plans.forest_build_rows" -> "count",
    "plans.broadcast_bytes" -> "bytes",
    "plans.full_join_stream_scans" -> "ratio",
    "plans.binrange_replication" -> "ratio",
    "plans.pair_count" -> "count",
    "operators.nearest_k_collect_bytes" -> "bytes",
    "operators.nearest_k_merge_candidate_ratio" -> "ratio",
    "operators.dedup_candidate_ratio" -> "ratio",
    "operators.ivf_candidates_per_query" -> "count",
    "operators.ivf_recall_at_10" -> "ratio",
    "streaming.gate_batch_s" -> "s",
    "streaming.gate_index_s" -> "s")
}

/** Minimal JSON rendering for the result line and detail files. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
