package graft

import scala.collection.mutable.ListBuffer
import scala.util.matching.Regex

/** Tokenizer for tag templates.
  *
  * Grammar reproduces the reference's two sequential gsub passes
  * (out_rewrite_tag_filter.rb:128 backrefs, :130 placeholders, tables
  * :147-171) as a single segmentation, evaluated segment-independently:
  *
  *   - `$<digits>`                  → Backref(n)      (multi-digit, e.g. $10)
  *                                    or UnkeyedBackref (`$01`, past Int)
  *   - `${name}` / `${name[i]}`     → Tag / TagPart(i) / Hostname / Unknown
  *   - `__NAME__`                   → Tag / Hostname / Unknown
  *   - anything else                → Lit
  *
  * Faithful quirks:
  *   - `__TAG_PARTS[n]__` is NOT a placeholder: the reference's gsub regex
  *     `__[A-Z_]+__` cannot match the brackets (:130), so the text passes
  *     through literally even though :167 puts it in the table. We tokenize
  *     with the same regex, so the quirk holds by construction.
  *   - Unknown `${foo}` / `__FOO__` placeholders expand to empty string with
  *     a warning (:131-132, Ruby `placeholder[$1]` → nil → "").
  *   - Range forms `${tag_parts[a..b]}` are rejected at compile time. The
  *     reference's check (:43) only fires when BOTH syntaxes appear — a
  *     latent bug; we honor the documented intent (README.md:258) and reject
  *     either form.
  */
object TemplateParser {

  sealed trait Segment
  final case class Lit(s: String) extends Segment
  /** `$n`. For inverted rules the reference never substitutes backrefs
    * (:122-124 skip straight past :127-128), so renderers must emit the
    * literal `$n` text there.
    */
  final case class Backref(n: Int) extends Segment
  /** `$<digits>` that is not `"$" + n` for an Int n (`$01`, `$99999999999`):
    * never a key of the reference's `{"$1"=>…}` table (:147-153), so it
    * renders "" in a normal rule and its raw text in an inverted one.
    */
  final case class UnkeyedBackref(raw: String) extends Segment
  /** `${tag}` / `__TAG__` — the (stripped) incoming tag (:161-162). */
  case object TagPh extends Segment
  /** `${tag_parts[i]}` — i-th dot-segment of the stripped tag (:165-168). */
  final case class TagPart(i: Int) extends Segment
  /** `${hostname}` / `__HOSTNAME__` (:159-160). */
  case object HostnamePh extends Segment
  /** Recognized placeholder syntax with no table entry → "" + warn (:131). */
  final case class UnknownPh(raw: String) extends Segment

  // Reference :43 intent (see scaladoc): either range syntax is an error.
  private val rangeForm: Regex =
    """\$\{tag_parts\[\d+\.\.\.?\d+\]\}|__TAG_PARTS\[\d+\.\.\.?\d+\]__""".r

  // Union of the backref gsub `\$\d+` (:128) and the placeholder gsub
  // `(\${[a-z_]+(\[[0-9]+\])?}|__[A-Z_]+__)` (:130), leftmost-longest not
  // needed: the alternatives cannot overlap at a given start position.
  private val token: Regex =
    """\$\d+|\$\{[a-z_]+(?:\[[0-9]+\])?\}|__[A-Z_]+__""".r

  private val tagPartForm: Regex = """\$\{tag_parts\[([0-9]+)\]\}""".r

  /** `digits` as an Int n when it is exactly `n.toString`: the only keys
    * of the reference's `$n` (:147-153) and `${tag_parts[n]}` (:165-168)
    * tables. `$01` is an [[UnkeyedBackref]], `${tag_parts[01]}` an
    * [[UnknownPh]]; a number past Int likewise.
    */
  private object CanonicalInt {
    def unapply(digits: String): Option[Int] =
      digits.toIntOption.filter(_.toString == digits)
  }

  /** Tokenize a tag template. Throws [[RuleConfigError]] on range forms. */
  def parse(template: String): List[Segment] = {
    if (rangeForm.findFirstIn(template).isDefined)
      throw new RuleConfigError(
        s"$${tag_parts[n]} placeholder does not support range specify: $template")
    val out = ListBuffer.empty[Segment]
    var pos = 0
    for (m <- token.findAllMatchIn(template)) {
      if (m.start > pos) out += Lit(template.substring(pos, m.start))
      val t = m.matched
      out += (t match {
        case _ if t.startsWith("${") || t.startsWith("__") =>
          t match {
            case "${tag}" | "__TAG__"           => TagPh
            case "${hostname}" | "__HOSTNAME__" => HostnamePh
            case tagPartForm(CanonicalInt(i))   => TagPart(i)
            case other                          => UnknownPh(other)
          }
        case _ =>
          CanonicalInt.unapply(t.substring(1))
            .fold[Segment](UnkeyedBackref(t))(Backref(_))
      })
      pos = m.end
    }
    if (pos < template.length) out += Lit(template.substring(pos))
    out.toList
  }
}
