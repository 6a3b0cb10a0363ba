package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hostile texts for the word-scanner kernels' differentials: every ASCII
  * `\s` byte at either end, whitespace-only text, the non-`\s` spaces
  * U+00A0 and U+3000 (which must stay inside words), invalid UTF-8, more
  * than 256 words, a shingle over 4 KB and heavily repeated shingles.
  */
object TextEdgeCases {
  private val seps = Seq("\t", "\n", "\u000b", "\f", "\r")

  val strings: Seq[String] =
    seps.flatMap(s => Seq(s"${s}lead word$s", s"trail word$s", s"${s}lead only")) ++ Seq(
      "\t\n\u000b\f\r", " \t ", "\t", "\n\n", " ",
      "a\t\n\u000b\f\rb c", "mixed \t\t  runs \n\n of   separators",
      "nbsp\u00a0inside word", "\u00a0", "\u00a0lead nbsp\u00a0",
      "ideographic\u3000space stays\u3000inside", "\u3000lead ideographic",
      "a \u00a0b c\u3000 d",
      (1 to 300).map(i => s"w$i").mkString(" "), // > 256 words
      ("x" * 5000) + " y z", // one shingle > 4 KB
      (1 to 400).map(_ => "ab cd").mkString(" "), // heavily repeated shingles
      (1 to 120).map(i => s"r${i % 3}").mkString("\t")) // repeats, tab-split

  /** Invalid UTF-8 (as hex): a bad continuation, a stray continuation, an
    * overlong form, a surrogate, a code point above U+10FFFF, a truncated
    * tail, and an F5 lead — each with separators around it.
    */
  val invalidHex: Seq[String] = Seq(
    "61C32862", "80", "2080096180", "C0AF2061", "61EDA08020623A",
    "F490808020202061", "6120E282", "09F5096109", "61C3", "C3A92062FF")

  /** (doc_id, text): [[strings]], then the [[invalidHex]] rows cast to
    * string without validation.
    */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val valid = strings.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    invalidHex.zipWithIndex.foldLeft(valid) { case (df, (hex, i)) =>
      df.union(spark.range(1).select(
        lit(1000L + i).as("doc_id"), unhex(lit(hex)).cast("string").as("text")))
    }
  }
}
