package graft

import graft.plans.IntervalJoinStrategy

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.ExtensionsBridge
import org.apache.spark.sql.internal.StaticSQLConf

/** The engine's `SparkSessionExtensions` entry point — the analogue of the
  * reference's `SequilaSession` registration block
  * (`utvf/SequilaSession.scala:29-66`), minus the forked
  * Analyzer/SessionState: Spark 4 exposes injection points for everything
  * the reference had to fork for (SURVEY §7 step 1).
  *
  * Use either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`. [[GraftExtensions.parts]]
  * is the one list of the engine's parts: [[Graft.ensure]] installs what
  * it builds into an existing session.
  *
  * Attaching through the conf also sizes Spark's generated-class cache
  * ([[GraftExtensions.CodegenCacheEntries]]): `apply` then runs inside
  * `SparkSession.Builder.build` after the context exists and before the
  * session's `SQLConf` is made from the context's conf, so the static
  * conf still reaches `CodeGenerator`, which reads it once per JVM.
  * `withExtensions` applies the extensions when it is called, before
  * `build` creates a context, so a session built that way with no
  * context running keeps Spark's cache size.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ExtensionsBridge.activeContextConf.foreach(_.setIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, GraftExtensions.CodegenCacheEntries.toString))
    GraftExtensions.parts(ext)
  }
}

object GraftExtensions {

  /** Entries of Spark's generated-class cache when graft attaches and the
    * user set no `spark.sql.codegen.cache.maxEntries`. Spark's default of
    * 100 is below one `bam_annotate` benchmark pass's working set, so the
    * LRU evicted each class before its next use and every pass compiled
    * its code again: 206 compiles a pass on a 4-core host, against 0
    * after the first pass at 1000. The heap follows the entries held
    * (~18 KB each), not the cap. */
  val CodegenCacheEntries = 1000

  /** Injects every part of the engine into `ext`. */
  def parts(ext: SparkSessionExtensions): Unit = {
    // The shuffle-scale bin-range rewrite runs as a LOGICAL rule so AQE
    // can fold stages back and skew-split a hot contig at runtime; the
    // strategy handles broadcast-forest planning and keeps a bin-range
    // fallback (see BinRangeLogicalRule's scaladoc for why placement
    // decides whether OptimizeSkewedJoin can ever fire).
    // Count pushdown must see Aggregate-over-Join BEFORE the bin-range
    // rewrite can replace the Join (it only fires on broadcast-fit sides,
    // so the two never want the same query anyway — the order just keeps
    // that invariant structural).
    ext.injectPreCBORule(plans.IntervalCountPushdownRule(_))
    ext.injectPreCBORule(plans.BinRangeLogicalRule(_))
    ext.injectOptimizerRule(plans.NearestJoinPruneRule(_))
    ext.injectOptimizerRule(plans.TagKeyPruneRule(_))
    ext.injectPlannerStrategy(IntervalJoinStrategy(_))
    ext.injectPlannerStrategy(plans.GenomicStrategy(_))
    functions.GraftFunctions.registrations.foreach(ext.injectFunction)
    functions.TextFunctions.registrations.foreach(ext.injectFunction)
    functions.PileupUDFs.registrations.foreach(ext.injectFunction)
    plans.GraftTableFunctions.registrations.foreach(ext.injectTableFunction)
  }
}
