package graft

import graft.plans.IntervalJoinStrategy

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's `SparkSessionExtensions` entry point — the analogue of the
  * reference's `SequilaSession` registration block
  * (`utvf/SequilaSession.scala:29-66`), minus the forked
  * Analyzer/SessionState: Spark 4 exposes injection points for everything
  * the reference had to fork for (SURVEY §7 step 1).
  *
  * Use either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`. This is the one
  * list of the engine's parts: [[Graft.ensure]] installs what it builds
  * into an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
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
    ext.injectResolutionRule(plans.NearestJoinDedupRule(_))
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
