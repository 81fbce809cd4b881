package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.IntegerType

/** Spark's generated-class cache, sized when graft attaches: a working set
  * above Spark's default of 100 classes compiles once per JVM, not once
  * per use. */
class CodegenCacheSpec extends SparkSpec {

  test("an extensions-built session sizes the generated-class cache") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ===
      GraftExtensions.CodegenCacheEntries.toString)
  }

  test("150 distinct generated classes compile once, not once per use") {
    // Each projection adds its own constant, which codegen inlines: 150
    // distinct class bodies, more than a 100-entry LRU holds.
    val exprs = (0 until 150).map(i =>
      Seq(Add(BoundReference(0, IntegerType, nullable = false), Literal(7340033 + i))))
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles(exprs.foreach(UnsafeProjection.create))
    assert(first >= 150L, s"the first round compiled $first classes")
    val second = compiles(exprs.foreach(UnsafeProjection.create))
    assert(second === 0L, s"the second round recompiled $second of 150 cached classes")
  }
}
