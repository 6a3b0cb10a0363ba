package graft

/** Core model for the rule-routing engine.
  *
  * Semantics derive from the reference plugin's config surface
  * (/root/reference/lib/fluent/plugin/out_rewrite_tag_filter.rb:9-31): an
  * ordered rule table, first-match-wins, each rule keyed on a record field,
  * matched with an unanchored regex, producing a rewritten tag (template with
  * backreferences and placeholders) and an optional label.
  */

/** One routing rule — mirrors a `<rule>` section
  * (out_rewrite_tag_filter.rb:20-31).
  *
  * @param key     field path the regex is applied to: `"domain"`,
  *                `"$.email.domain"`, or `"$['email']['domain']"`.
  * @param pattern Java-compatible regex; unanchored-search semantics
  *                (Ruby `Regexp#match` ≡ `Matcher.find`).
  * @param tag     tag template: literals, `$1..$n` backrefs, `${tag}`,
  *                `${tag_parts[n]}`, `${hostname}`, `__TAG__`, `__HOSTNAME__`.
  * @param label   optional routing label (secondary namespace).
  * @param invert  fire iff the pattern does NOT match
  *                (out_rewrite_tag_filter.rb:29-30,122-124). Inverted rules
  *                evaluate even on empty values and never substitute backrefs.
  */
final case class Rule(
    key: String,
    pattern: String,
    tag: String,
    label: Option[String] = None,
    invert: Boolean = false) {

  /** Pattern with Fluentd's `regexp_type` surface applied: both the
    * `/re/`-delimited and bare forms are accepted
    * (fluent/config/regexp_type via out_rewrite_tag_filter.rb:2,24; both
    * forms pinned by reference tests
    * test_out_rewrite_tag_filter.rb:21-43).
    */
  def normalizedPattern: String = Rule.normalizePattern(pattern)
}

object Rule {
  /** `/re/` → `re`; anything else unchanged (Fluentd regexp_type). */
  def normalizePattern(p: String): String =
    if (p.length >= 2 && p.head == '/' && p.last == '/')
      p.substring(1, p.length - 1)
    else p
}

/** Top-level engine options (out_rewrite_tag_filter.rb:9-18).
  *
  * `removeTagPrefix`/`removeTagRegexp` strip the incoming tag for placeholder
  * purposes only (the unchanged-tag drop check still compares the original
  * tag, out_rewrite_tag_filter.rb:96,156). They are mutually exclusive
  * (:65-67). `hostname` is captured once on the driver (:40 shells out once
  * at configure) and embedded as a literal in the plan.
  */
final case class RoutingConfig(
    capitalizeRegexBackreference: Boolean = false,
    removeTagPrefix: Option[String] = None,
    removeTagRegexp: Option[String] = None,
    hostname: String = RoutingConfig.defaultHostname)

object RoutingConfig {
  /** Same once-per-process capture as the reference's `hostname` shell-out
    * (out_rewrite_tag_filter.rb:40); overridable via the config field for
    * deterministic tests.
    */
  lazy val defaultHostname: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }
}

/** Rule-compile-time validation failure — analog of Fluent::ConfigError
  * (out_rewrite_tag_filter.rb:44,54,58,62,66).
  */
final class RuleConfigError(msg: String) extends RuntimeException(msg)
