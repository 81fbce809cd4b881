package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Synthesizes a scaled-up copy of a testdata directory for scaling-curve
  * measurements (r8/r9 VERDICT #1: `/root/testdata` ships no sf1, so the
  * 10x point must be built locally). Usage:
  *
  * {{{ sbt "runMain graft.tools.Blowup [srcDir] [dstDir] [copies]" }}}
  *
  * defaults: `/root/testdata/sf0.1` -> `testdata_x10`, 10 copies.
  *
  * What scales and what doesn't — deliberate, matching the 100 TB shape:
  *
  *  - `lineitem` (the reads/ivA side) is unioned `copies` times with all
  *    three key columns shifted by `i * 100000007` (prime, so the derived
  *    contig (`key % 8`) and position (`key % 100000`) distributions
  *    rotate per copy instead of stacking exact duplicates — distinct
  *    interval triples scale with the data).
  *  - `part` (the ivB/annotation side) stays at 1x: a genomic annotation
  *    set or feature catalog is bounded; scaling it with the reads would
  *    grow JOIN OUTPUT quadratically and measure result materialization,
  *    not engine throughput.
  *  - `documents` scales with per-copy word salting (`c3_word`) so
  *    intra-copy near-duplicate structure is preserved exactly while
  *    cross-copy shingles are disjoint — the near-dup pair count scales
  *    linearly (10 exact copies would make every dup cluster 10x wider
  *    and the pair count quadratic).
  *  - `embeddings` scales with shifted `vec_id` and a tiny deterministic
  *    per-copy component offset (copy 0 byte-identical). The ANN query
  *    set (`vec_id < 20`) stays fixed — 20 probes against a 10x corpus.
  *  - Everything else (orders, customer, events, ...) is file-copied 1x:
  *    none of the headline scaling queries read them, but Bench's warmup
  *    and fixture builders do.
  */
object Blowup {
  private val Shift = 100000007L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "testdata_x10"
    val copies = if (args.length > 2) args(2).toInt else 10

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.localBuilder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def blown(base: DataFrame)(shifted: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => shifted(base, i)).reduce(_ unionAll _)

    write(blown(read("lineitem")) { (li, i) =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * Shift))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Shift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * Shift))
    }, "lineitem")

    write(blown(read("documents")) { (docs, i) =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1"))
    }, "documents")

    write(blown(read("embeddings")) { (emb, i) =>
      val e = emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      if (i == 0) e
      else e.withColumn("embedding",
        transform(col("embedding"), x => x + lit(i.toFloat * 1e-4f)))
    }, "embeddings")

    // 1x passthrough for everything else, byte-copied (events.parquet may
    // be TIMESTAMP(NANOS) — a Spark round-trip would rewrite its physical
    // type; the copy keeps the scaled dir faithful to the source).
    Files.createDirectories(Paths.get(dst))
    Seq("part", "orders", "customer", "supplier", "nation", "region", "events")
      .foreach { name =>
        Files.copy(Paths.get(s"$src/$name.parquet"), Paths.get(s"$dst/$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }

    val counts = Seq("lineitem", "documents", "embeddings").map { n =>
      n -> spark.read.parquet(s"$dst/$n.parquet").count()
    }
    spark.stop()
    println(s"blowup done: $dst (${copies}x) " +
      counts.map { case (n, c) => s"$n=$c" }.mkString(", "))
  }
}
