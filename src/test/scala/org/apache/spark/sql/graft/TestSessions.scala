package org.apache.spark.sql.graft

/** Test-only session factories. Lives in test sources: production code
  * never needs a bare session, and shipping a reflective hook into
  * `classic.SparkSession`'s private constructor in the main jar would be
  * a liability on every Spark upgrade (r15 review).
  */
object TestSessions {

  /** A session on the same SparkContext with NO SparkSessionExtensions and
    * a fresh SessionState — the shape a foreign application's session has
    * before `graft.Graft.ensure` retrofits the engine. `newSession()`
    * inherits the parent's extensions object, so an extensions-built test
    * harness cannot otherwise produce the bare session the imperative
    * attachment path must be audited against (the classic constructor is
    * `private[sql]`). Shares the parent's SharedState (one metastore per
    * JVM); session state, confs, temp views start fresh.
    */
  def bareSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // The `private[sql]` this(sc) constructor re-loads extensions from the
    // context conf (applyAndLoadExtensions), so in an extensions-built JVM
    // it is NOT bare; the primary constructor takes the extensions object
    // explicitly but is class-private — reflection (Scala `private` is
    // public at the bytecode level) is the only way to hand it an empty one.
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6)
      .getOrElse(sys.error("classic.SparkSession primary constructor not found"))
    ctor.newInstance(c.sparkContext, Some(c.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}

/** Test-only access to the context's listener bus. */
object TestListeners {

  /** Blocks until every posted event has reached the listeners, so a
    * listener-side tally (jobs, stages) is complete when read. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Runs `body` in job group `group` and returns its result with the
    * number of Spark jobs started in that group. Counting by group keeps
    * jobs of concurrent work out of the tally. */
  def jobsIn[T](spark: org.apache.spark.sql.SparkSession, group: String)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && group == e.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try body finally spark.sparkContext.clearJobGroup()
      drain(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
