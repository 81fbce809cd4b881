package graft.operators

import scala.reflect.ClassTag

/** SPI for the interval join's build-side structure (reference: the
  * `spark.biodatageeks.rangejoin.intervalHolderClassName` conf and
  * `rangejoins/methods/IntervalTree/IntervalHolderChromosome.scala:6-26`,
  * exercised by `tests/rangejoins/CustomIntervalHolderTestSuite.scala:14-31`).
  *
  * A holder answers stored-interval overlap queries; a factory assembles
  * one holder per equality key (contig). The default is
  * [[IntervalForestFactory]] (the array-backed augmented forest); swap in
  * a custom structure with
  * `spark.graft.rangejoin.intervalHolderClass=<factory class name>` —
  * the class needs a no-arg constructor. The build side reaches the
  * executors as Spark broadcast rows; each executor JVM instantiates the
  * factory by name and builds its holders from them once per broadcast
  * (`graft.plans.ForestBuild`), so holders are never serialized by the
  * join.
  */
trait IntervalHolder[T] extends Serializable {
  /** Invoke `f(storedStart, storedEnd, value)` for every stored interval
    * overlapping `[qs, qe]` (1-based, end-inclusive). */
  def foreachOverlap(qs: Int, qe: Int)(f: (Int, Int, T) => Unit): Unit
}

trait IntervalHolderFactory extends Serializable {
  /** Build one holder per key from `(key, start, end, value)` tuples,
    * widening every interval by ±`maxGap` before insertion. */
  def build[K, T: ClassTag](
      items: IterableOnce[(K, Int, Int, T)], maxGap: Int): Map[K, IntervalHolder[T]]
}

/** Default factory: per-key [[IntervalForest]]. */
final class IntervalForestFactory extends IntervalHolderFactory {
  override def build[K, T: ClassTag](
      items: IterableOnce[(K, Int, Int, T)], maxGap: Int): Map[K, IntervalHolder[T]] =
    IntervalForest.forest(items, maxGap)
}

object IntervalHolderFactory {
  /** Instantiate the factory named by the conf value (no-arg ctor). */
  def forName(className: String): IntervalHolderFactory =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[IntervalHolderFactory]
}
