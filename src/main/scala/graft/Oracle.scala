package graft

import java.util.regex.{Matcher, Pattern}

import graft.TemplateParser._

/** Scalar re-implementation of the reference's rewrite loop
  * (out_rewrite_tag_filter.rb:117-137) — the ~30-line "obvious interpreter"
  * used to differentially test the Catalyst compilation (ScalaCheck: engine
  * output must equal this oracle on every generated row).
  *
  * Records are string-keyed maps with possibly-nested Map values, like
  * Fluentd records; missing fields read as "" (nil.to_s, :119).
  */
object Oracle {

  /** Result of the cascade: None = no rule fired (:136). */
  def rewriteTag(
      rules: Seq[Rule],
      cfg: RoutingConfig,
      tag: String,
      record: Map[String, Any]): Option[(String, Option[String])] = {
    val stripped = strippedTag(tag, cfg)
    val it = rules.iterator
    while (it.hasNext) {
      val rule = it.next()
      val value = accessAsString(record, rule.key)
      // R-EMPTY (:120): empty value skips non-inverted rules only.
      if (!(value.isEmpty && !rule.invert)) {
        val m = Pattern.compile(rule.normalizedPattern).matcher(value)
        val found = m.find() // Ruby Regexp#match = unanchored search
        if (rule.invert) {
          if (!found)
            return Some((renderTemplate(rule, None, stripped, cfg), rule.label))
        } else if (found) {
          return Some((renderTemplate(rule, Some(m), stripped, cfg), rule.label))
        }
      }
    }
    None
  }

  /** Full routing decision incl. drop filter (:96-100):
    * None = dropped; Some((finalTag, label)) = routed.
    */
  def route(
      rules: Seq[Rule],
      cfg: RoutingConfig,
      tag: String,
      record: Map[String, Any]): Option[(String, Option[String])] =
    rewriteTag(rules, cfg, tag, record) match {
      case None => None
      case Some((newTag, label)) =>
        if (newTag == tag && label.isEmpty) None // unchanged + unlabeled → drop
        else Some((newTag, label))
    }

  def strippedTag(tag: String, cfg: RoutingConfig): String =
    (cfg.removeTagPrefix, cfg.removeTagRegexp) match {
      case (Some(p), _) =>
        Pattern.compile("^" + Pattern.quote(p) + "\\.?")
          .matcher(tag).replaceFirst("")
      case (_, Some(re)) =>
        Pattern.compile(Rule.normalizePattern(re)).matcher(tag).replaceFirst("")
      case _ => tag
    }

  /** record_accessor + to_s (:119): nested path lookup, nil → "". */
  def accessAsString(record: Map[String, Any], key: String): String = {
    def walk(v: Any, steps: List[KeyPath.Step]): Any = (v, steps) match {
      case (x, Nil)                              => x
      case (m: Map[_, _], KeyPath.Field(f) :: t) =>
        walk(m.asInstanceOf[Map[String, Any]].getOrElse(f, null), t)
      case (s: Seq[_], KeyPath.Index(i) :: t) =>
        walk(if (i >= 0 && i < s.length) s(i) else null, t)
      case _ => null
    }
    walk(record, KeyPath.parse(key)) match {
      case null => ""
      case x    => x.toString
    }
  }

  private def renderTemplate(
      rule: Rule,
      m: Option[Matcher],
      stripped: String,
      cfg: RoutingConfig): String = {
    val parts = stripped.split("\\.", -1)
    TemplateParser.parse(rule.tag).map {
      case Lit(s) => s
      case Backref(n) =>
        m match {
          case None => "$" + n // inverted: no backref table (:122-124)
          case Some(mm) =>
            if (n == 0 || n > mm.groupCount()) ""
            else {
              val g = Option(mm.group(n)).getOrElse("")
              if (cfg.capitalizeRegexBackreference) capitalize(g) else g
            }
        }
      case UnkeyedBackref(raw) => if (m.isEmpty) raw else ""
      case TagPh      => stripped
      case TagPart(i) => if (i < parts.length) parts(i) else ""
      case HostnamePh => cfg.hostname
      case UnknownPh(_) => ""
    }.mkString
  }

  /** Ruby String#capitalize: first character (code point) up, rest down. */
  def capitalize(s: String): String =
    if (s.isEmpty) s
    else {
      val head = Character.charCount(s.codePointAt(0))
      s.substring(0, head).toUpperCase(java.util.Locale.ROOT) +
        s.substring(head).toLowerCase(java.util.Locale.ROOT)
    }
}
