package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.ColumnBridge

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

  type Builder = Seq[Expression] => Expression

  private val udfs: Seq[(String, Int, UserDefinedFunction)] = Seq(
    ("quals_to_map", 1, udf(qualsToMap _)),
    ("to_charmap", 1, udf(qualsToCharMap _)),
    ("quals_to_cov", 2, udf(qualsToCoverage _)),
    ("quals_to_char", 1, udf((m: Map[Byte, Map[String, Short]]) => byteKeysToChar(m))),
    ("alts_to_char", 1, udf((m: Map[Byte, Short]) => byteKeysToChar(m))),
    ("altmap_to_str", 1, udf(altMapToString _)),
    ("qualsmap_to_str", 1, udf(qualsMapToString _)),
    ("cov_equals", 2, udf((a: Short, b: Short) => a == b)))

  /** `(name, info, builder)` triples for [[graft.GraftExtensions]]; the
    * UDF is named after its function, so result columns render as
    * `quals_to_map(quals)`. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    udfs.map { case (n, arity, f) =>
      val named = f.withName(n)
      val checked: Builder = { args =>
        require(args.length == arity, s"$n expects $arity arguments, got ${args.length}")
        ColumnBridge.catalystExpression(named(args.map(ColumnBridge.column): _*))
      }
      (FunctionIdentifier(n), new ExpressionInfo(PileupUDFs.getClass.getName, n), checked)
    }
}
