package graft.operators

import graft.{Graft, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Map-typed pileup (the reference's native schema) and its composition
  * with the F7-F14 UDF pack — reference users pipe `pileup(...)` through
  * `quals_to_map`/`alts_to_char`/`altmap_to_str`
  * (`tests/pileup/SamtoolsTestSuite.scala:50-72`). */
class PileupSpec extends SparkSpec {

  private def s1 = Tables.reads(spark, sf0001).filter(col("sample_id") === "s1")

  test("map pileup agrees with string pileup through the UDF renderings") {
    Graft.ensure(spark)
    val maps = PileupOps.pileupMaps(s1)
      .select(col("contig"), col("pos"), col("coverage"), col("count_nonref"),
        expr("altmap_to_str(alts_to_char(alts))").as("alts_str"))
    val strings = PileupOps.pileup(s1)
      .select(col("contig"), col("pos"), col("coverage"), col("count_nonref"),
        col("alts").as("alts_str"))
    assert(maps.count() > 0)
    // Same rows, same rendered alt strings: the UDF pack consumes the
    // engine's own map output and reproduces the canonical string form.
    assert(maps.exceptAll(strings).isEmpty && strings.exceptAll(maps).isEmpty)
  }

  test("quality histograms are consistent: counts, coverage, quals_to_cov") {
    Graft.ensure(spark)
    val maps = PileupOps.pileupMaps(s1)
    // Per row: sum over quals histograms == count_nonref == sum of alts
    // counts; quals_to_cov recomputes the same from the map column.
    val checked = maps.select(
      col("count_nonref"),
      expr("aggregate(map_values(alts), 0L, (a, x) -> a + x)").as("alts_sum"),
      expr("aggregate(map_values(quals), 0L, (a, h) -> a + aggregate(h, 0L, (b, y) -> b + y))")
        .as("quals_sum"),
      expr("quals_to_cov(quals, CAST(0 AS SHORT))").cast("long").as("udf_sum"))
    assert(checked.filter(
      col("alts_sum") =!= col("count_nonref") ||
      col("quals_sum") =!= col("count_nonref") ||
      col("udf_sum") =!= col("count_nonref")).isEmpty)
  }

  test("quals_to_map skips zero slots and renders FASTQ chars") {
    Graft.ensure(spark)
    val rendered = PileupOps.pileupMaps(s1)
      .select(expr("quals_to_map(quals)").as("m"))
      .select(explode(map_values(col("m"))).as("per_base"))
      .select(explode(col("per_base")).as(Seq("ch", "n")))
    // No zero counts survive, every key is a printable FASTQ char.
    assert(rendered.filter(col("n") === 0).isEmpty)
    assert(rendered.filter(length(col("ch")) =!= 1 || ascii(col("ch")) < 33).isEmpty)
  }

  test("repeated Graft.ensure keeps the registered pileup UDFs in place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    Graft.ensure(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("quals_to_map", "to_charmap", "quals_to_cov", "quals_to_char",
      "alts_to_char", "altmap_to_str", "qualsmap_to_str", "cov_equals")
    def builders = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    val before = builders
    assert(before.forall(_.isDefined))
    Graft.ensure(spark)
    // Same builder objects: nothing was re-registered (each replacement
    // logs a warning).
    assert(builders.zip(before).forall { case (a, b) => a.get eq b.get })
  }

  test("binned TVF equals the Scala binning API") {
    Graft.ensure(spark)
    s1.createOrReplaceTempView("pileup_spec_reads")
    val tvf = spark.sql("SELECT * FROM pileup('pileup_spec_reads', 's1', true, true, 10)")
    val api = PileupOps.pileup(s1, qualsBinSize = Some(10))
    assert(tvf.exceptAll(api).isEmpty && api.exceptAll(tvf).isEmpty)
  }

  test("quals-free fast path equals the full pileup minus quals") {
    Graft.ensure(spark)
    // Map form: same depth/alt counts, no quals column computed at all.
    def rendered(df: org.apache.spark.sql.DataFrame) = df
      .select(col("contig"), col("pos"), col("ref"), col("coverage"),
        col("count_ref"), col("count_nonref"),
        expr("altmap_to_str(alts_to_char(alts))").as("alts_str"))
    val fast = PileupOps.pileupMaps(s1, withQuals = false)
    assert(!fast.columns.contains("quals"))
    val full = PileupOps.pileupMaps(s1)
    assert(rendered(fast).exceptAll(rendered(full)).isEmpty &&
      rendered(full).exceptAll(rendered(fast)).isEmpty)
    // String form through the TVF's narrowed (alts=true, quals=false)
    // schema — the exec now dispatches the fast path from the schema.
    s1.createOrReplaceTempView("pileup_spec_reads")
    val tvf = spark.sql("SELECT * FROM pileup('pileup_spec_reads', 's1', true, false)")
    val api = PileupOps.pileup(s1).drop("quals")
    assert(!tvf.columns.contains("quals"))
    assert(tvf.exceptAll(api).isEmpty && api.exceptAll(tvf).isEmpty)
  }
}
