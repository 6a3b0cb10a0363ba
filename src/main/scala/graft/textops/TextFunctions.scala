package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization counts, quality scoring, language ID, fingerprinting.
  *
  * Design rules:
  *  - built-in codegen'd expressions only (no UDFs) so everything stays
  *    inside whole-stage codegen and scales linearly with input;
  *  - integer/scaled-integer outputs (parts-per-million ratios via floor)
  *    so results are bit-stable across engines — the DuckDB oracle mirrors
  *    the same arithmetic exactly, no float-rounding divergence;
  *  - RE2-compatible regexes (no lookahead/backrefs) for oracle parity.
  */
object TextFunctions {

  /** Whitespace word tokens; "" → empty array (split would yield [""]). */
  def words(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish subword count: letter runs, digit runs, single punctuation —
    * the pre-tokenizer split a byte-pair encoder would see.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCountBpe(text: Column): Column =
    graft.expressions.CountMatches(text, bpeTokenPattern)

  /** floor(n/d * 1e6) as long; 0 when d = 0. Bit-stable across engines. */
  def ppm(n: Column, d: Column): Column =
    when(d === 0, lit(0L))
      .otherwise(floor(n.cast("double") * 1000000.0 / d.cast("double")))

  private val stopwordPattern =
    "\\b(the|a|an|of|and|or|is|to|in)\\b"

  /** Quality metrics (length/punct/stopword ratios) — every column exact. */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val ws = words(text)
    val nWords = size(ws)
    // codegen'd match COUNTS (identical find() loop, no match-array
    // materialization — the scoring hot path; see CountMatches)
    val nPunct = graft.expressions.CountMatches(text, "[^A-Za-z0-9\\s]")
    val nStop = graft.expressions.CountMatches(lower(text), stopwordPattern)
    val nUpper = graft.expressions.CountMatches(text, "[A-Z]")
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_words" -> nWords.cast("long"),
      "mean_word_len_ppm" -> ppm(nChars - (nWords - 1), nWords), // chars sans separators
      "punct_ppm" -> ppm(nPunct, nChars),
      "stopword_ppm" -> ppm(nStop, nWords),
      "upper_ppm" -> ppm(nUpper, nChars))
  }

  /** Composite quality score in [0, 100]: long docs with sane punctuation
    * and some stopwords score high — the usual web-corpus heuristic, with
    * integer-only arithmetic. One fused codegen'd pass
    * ([[graft.expressions.QualityScoreExpr]]); [[qualityScoreSql]] is the
    * semantics definition and differential oracle. Null text maps to the
    * SQL chain's outcome (least/greatest skip nulls → 40+30+30-30 = 70).
    */
  def qualityScore(text: Column): Column =
    coalesce(graft.expressions.QualityScoreExpr(text), lit(70L))

  /** Pure-built-in formulation of [[qualityScore]] (differential oracle). */
  def qualityScoreSql(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    def idiv(c: Column, d: Long): Column = floor(c / d).cast("long") // int division (c ≥ 0)
    val lenScore = least(m("n_words"), lit(40L)) // up to 40 pts for length
    val stopScore = least(idiv(m("stopword_ppm"), 10000L), lit(30L)) // ≤30 pts
    val punctPenalty = least(idiv(m("punct_ppm"), 10000L), lit(30L)) // ≥30% punct → -30
    greatest(lit(0L), least(lit(100L), lenScore + stopScore + lit(30L) - punctPenalty))
  }

  /** Marker-word tables for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|was|with|that)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit)\\b",
    "fr" -> "\\b(le|la|les|et|est|pas|avec)\\b",
    "es" -> "\\b(el|los|las|es|y|no|con)\\b")

  /** Heuristic language ID: CJK codepoints → zh; else argmax marker hits
    * with first-listed language winning ties; no hits at all → "und".
    * One fused codegen'd pass ([[graft.expressions.LangIdExpr]]);
    * [[langIdSql]] is the differential oracle. Null text → "und" (the SQL
    * fold's terminal), applied at the Column level.
    */
  def langId(text: Column): Column =
    coalesce(graft.expressions.LangIdExpr(text), lit("und"))

  /** Pure-built-in formulation of [[langId]] (differential oracle). */
  def langIdSql(text: Column): Column = {
    val hits = langMarkers.map { case (lang, pat) =>
      lang -> graft.expressions.CountMatches(lower(text), pat)
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // fold from the right so earlier-listed languages win ties
    val folded = hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh")).otherwise(folded)
  }

  /** PII redaction patterns — all RE2-safe (no lookaround/backrefs) so the
    * DuckDB oracle applies the identical regex. Deliberately conservative
    * recall (a training-data scrub favors precision: over-redaction destroys
    * signal); swap/extend per corpus policy.
    */
  val redactionPatterns: Seq[(String, String)] = Seq(
    // email before IP: an email's domain may contain digit runs
    "<EMAIL>" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "<IP>" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "<PHONE>" -> "\\+[0-9][0-9 ()-]{6,}[0-9]")

  /** Replace every occurrence of each PII pattern with its token, in the
    * fixed order above (stable composition: earlier redactions can't create
    * later matches because tokens contain no pattern characters). Pure
    * codegen'd `regexp_replace` chain — no UDFs.
    */
  def redact(text: Column): Column =
    redactionPatterns.foldLeft(text) { case (c, (token, pat)) =>
      regexp_replace(c, pat, token)
    }

  /** Dedup normalization: lowercase, strip everything outside [a-z0-9 ],
    * collapse space runs, trim — the standard first fold before exact
    * dedup so trivially-reformatted copies (case, punctuation, spacing)
    * collide. Deliberately ASCII-scoped: the character class and ' +' are
    * evaluated identically by Java regex (Spark, codegen'd
    * `regexp_replace`) and RE2 (the DuckDB oracle), which is what lets the
    * normalized-dedup oracle check values rather than rows. Null → null
    * (the null group survives normalization).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** 64-bit FNV-1a document fingerprint (custom codegen'd expression). */
  def fingerprint(text: Column): Column =
    graft.expressions.FnvHash64(text)

  /** n-word shingles; shorter docs collapse to a single whole-text shingle.
    * One-pass codegen'd expression — the lambda form ([[shinglesSql]], kept
    * as the differential oracle) re-evaluates the full word split inside
    * the lambda for every shingle (O(words²) per row, interpreted).
    */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.ShingleStrings(text, n)

  /** Pure-built-in formulation of [[shingles]] — the semantics definition
    * and differential oracle (SpanExprSpec).
    */
  def shinglesSql(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) < n, array(concat_ws(" ", ws)))
      .otherwise(transform(
        sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
  }
}
