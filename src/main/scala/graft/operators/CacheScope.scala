package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Scoped tracking of operator-internal persists.
  *
  * The multi-consumer operators (dedup/ANN/coverage families) persist
  * intermediate frames — shingle sets, hashed shingles, LSH candidate
  * pairs — that CANNOT be unpersisted inside the operator: the returned
  * result is lazy, so the caches are first consumed whenever the caller
  * runs its action. Before r4 the only cleanup was the global
  * `GraftSession.clearOperatorCaches()` (drop every persistent RDD in the
  * context), which also kills caches the caller owns (r3 ADVICE).
  *
  * Every operator persist is routed through [[persistTracked]]. Outside a
  * scope the behavior is exactly the old one (plain MEMORY_AND_DISK
  * persist, global clear as the escape hatch — everything evicts under
  * pressure, nothing is pinned). Inside [[withCaches]] the frames
  * persisted by the enclosed operator calls are recorded per-scope and
  * released as soon as the scope's `materialize` action has consumed the
  * result:
  *
  * {{{
  * val pairs = CacheScope.withCaches {
  *   DedupOps.nearDupPairs(docs, 0.8)
  * }(_.count())   // materialize, then the shingle/band caches are freed
  * }}}
  *
  * Scopes nest (inner operators land in the innermost open scope) and are
  * thread-confined — operator composition happens on the driver thread
  * that builds the plan.
  */
object CacheScope {

  private val stack = new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[Dataset[_]]]] {
    override def initialValue(): List[scala.collection.mutable.ArrayBuffer[Dataset[_]]] = Nil
  }

  /** Persist at MEMORY_AND_DISK and register with the innermost open
    * scope (no-op registration when no scope is open). */
  private[graft] def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    stack.get() match {
      case head :: _ => head += p
      case Nil => ()
    }
    p
  }

  /** Run `body`, force its result with `materialize`, then unpersist every
    * frame the operators inside persisted. The result is returned, but its
    * caches are gone — re-running an action on it recomputes (correctly,
    * since persists are plan-transparent). Use when one operator call's
    * intermediates should not outlive its result in a long-lived session. */
  def withCaches[T](body: => T)(materialize: T => Unit): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    stack.set(buf :: stack.get())
    try {
      val out = body
      materialize(out)
      out
    } finally {
      stack.set(stack.get().tail)
      buf.foreach(_.unpersist(blocking = false))
    }
  }
}
