package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.udf

import scala.collection.mutable

/** Pileup post-processing scalar functions (reference
  * `pileup/udfs/{QualityFunctions,AltFunctions,CoverageFunctions}.scala`).
  * These run over the small *output* of coverage/pileup queries (maps of
  * alt counts / quality histograms), not in any hot scan path, so plain
  * Scala UDFs are the right tool (SURVEY §2.6 note).
  *
  * Quality histograms are indexed by Phred score; rendering adds 33 to get
  * the FASTQ ASCII character, skipping empty slots.
  */
object PileupUDFs {

  def qualsToMap(map: Map[Byte, collection.Seq[Short]]): Map[Byte, Map[String, Short]] =
    if (map == null) null
    else map.map { case (k, v) =>
      val nested = mutable.HashMap.empty[String, Short]
      var i = 0
      while (i < v.length) {
        if (v(i) != 0) nested += (i + 33).toChar.toString -> v(i)
        i += 1
      }
      k -> nested.toMap
    }

  def qualsToCharMap(map: Map[Byte, collection.Seq[Short]]): Map[String, Map[String, Short]] =
    if (map == null) null
    else qualsToMap(map).map { case (k, v) => k.toChar.toString -> v }

  def qualsToCoverage(map: Map[Byte, collection.Seq[Short]], cov: Short): Short =
    if (map == null) cov
    else map.iterator.map { case (_, v) => v.sum }.sum.toShort

  def byteKeysToChar[V](map: Map[Byte, V]): Map[String, V] =
    if (map == null) null
    else map.map { case (k, v) => k.toChar.toString -> v }

  /** Canonical sorted rendering for golden-file comparison. */
  def altMapToString(map: Map[String, Short]): String =
    if (map == null) null
    else map.toSeq.sortBy(_._1).map { case (k, v) => s"$k -> $v" }.mkString(", ")

  def qualsMapToString(map: Map[String, Map[String, Short]]): String =
    if (map == null) null
    else map.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k -> (" + v.toSeq.sortBy(_._1).map { case (c, n) => s"$c -> $n" }.mkString(", ") + ")" }
      .mkString("; ")

  /** Register the functions into the session, skipping names its
    * registry already holds — `Graft.ensure` runs on every entry point,
    * and re-registering logs a `replaced a previously registered
    * function` warning each time. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(
      "quals_to_map" -> udf(qualsToMap _),
      "to_charmap" -> udf(qualsToCharMap _),
      "quals_to_cov" -> udf(qualsToCoverage _),
      "quals_to_char" -> udf((m: Map[Byte, Map[String, Short]]) => byteKeysToChar(m)),
      "alts_to_char" -> udf((m: Map[Byte, Short]) => byteKeysToChar(m)),
      "altmap_to_str" -> udf(altMapToString _),
      "qualsmap_to_str" -> udf(qualsMapToString _),
      "cov_equals" -> udf((a: Short, b: Short) => a == b)
    ).foreach { case (name, f) =>
      if (!registry.functionExists(FunctionIdentifier(name))) spark.udf.register(name, f)
    }
  }
}
