package graft

/** Rule-table loader — the C-PARSE surface. The reference's entire user
  * interface is a config file: `<rule>` sections plus top-level params
  * (out_rewrite_tag_filter.rb:9-31, parse tests
  * test_out_rewrite_tag_filter.rb:13-58). A user migrating such a
  * config needs a loader, not Scala case-class literals. One format:
  * [[fromConf]] reads the Fluentd-style text itself (`<rule>` blocks,
  * `param value` lines, `#` comments), including the reference's
  * ConfigError surface: legacy `rewriterule<n>` rejection (:52-54),
  * unknown-param rejection, `/re/` regexp_type patterns (:24).
  *
  * The loader only PARSES; semantic validation (≥1 rule, duplicate rules,
  * prefix∧regexp exclusion, template ranges) stays in RuleCompiler.compileFused —
  * same split as the reference (config_param parse vs configure checks).
  *
  * `hostname_command` (:15-16,40): executed ONCE here on the driver, exactly
  * like the reference's backtick-at-configure, and embedded as a literal in
  * the RoutingConfig (executors never shell out).
  */
object RuleTableLoader {

  /** Top-level params of a conf file. */
  private val topLevelParams = Set(
    "capitalize_regex_backreference", "remove_tag_prefix", "remove_tag_regexp",
    "hostname", "hostname_command", "emit_mode")
  private val ruleParams = Set("key", "pattern", "tag", "label", "invert")

  /** Run the hostname command once on the driver; `chomp` semantics
    * (out_rewrite_tag_filter.rb:40 — backticks + String#chomp). Bounded by
    * a timeout: a hung command must fail config loading with a clear error,
    * not block it forever.
    */
  def hostnameFromCommand(cmd: String, timeoutSec: Long = 10L): String = {
    // stderr is DISCARDED, not piped: a child blocked on a full stderr pipe
    // while we read stdout to EOF deadlocks both processes (same bug class
    // as ScalingBench.runLevelJvm)
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    // stdout drains on its own daemon thread so the timeout path can give
    // up on a child that never closes its pipe (read-to-EOF inline cannot)
    val buf = new java.io.ByteArrayOutputStream()
    val reader = new Thread(() => {
      try proc.getInputStream.transferTo(buf)
      catch { case _: java.io.IOException => } // destroyed child: partial read OK
    })
    reader.setDaemon(true)
    reader.start()
    // kill the whole visible process tree, children first: destroying only
    // `proc` leaves a shell's children running (and on the stayed-open path
    // the shell has EXITED, so destroying it alone is a documented no-op)
    def killTree(): Unit = {
      proc.descendants().forEach(h => { h.destroyForcibly(); () })
      proc.destroyForcibly()
    }
    if (!proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      killTree()
      throw new RuleConfigError(s"hostname_command timed out after ${timeoutSec}s: $cmd")
    }
    // The shell exited, but a backgrounded grandchild may still hold the
    // stdout pipe open; Ruby backticks read to pipe EOF, so anything short
    // of EOF here must be an ERROR, never a silently truncated hostname.
    // (In practice the JVM process reaper severs the pipe at child exit —
    // the reader then sees EOF having drained the shell's own output whole;
    // this guard covers the race where the reader is still blocked. Total
    // wall time is bounded by 2 × timeoutSec: waitFor + this join.)
    reader.join(timeoutSec * 1000)
    if (reader.isAlive) {
      // best effort: reap any descendants still visible under the exited
      // shell; a grandchild already reparented to init cannot be found from
      // here and is the orphan the error message tells the operator about
      killTree()
      throw new RuleConfigError(
        s"hostname_command exited but its stdout stayed open past ${timeoutSec}s " +
          s"(backgrounded child holding the pipe? it may still be running): $cmd")
    }
    val code = proc.exitValue()
    if (code != 0)
      throw new RuleConfigError(s"hostname_command failed (exit $code): $cmd")
    new String(buf.toByteArray, "UTF-8").stripLineEnd
  }

  private def buildConfig(params: Map[String, String]): RoutingConfig = {
    params.keys.find(!topLevelParams.contains(_)).foreach { k =>
      if (k.startsWith("rewriterule"))
        // the reference's own legacy-syntax error (:52-54)
        throw new RuleConfigError(
          "\"rewriterule<num>\" support has been dropped. Use <rule> section instead.")
      throw new RuleConfigError(s"unknown config parameter: $k")
    }
    params.get("emit_mode").foreach { m =>
      if (m != "record" && m != "batch") // accepted for config parity (:18-19);
        // both modes produce one routed frame here — emission is the sink's
        // concern (Router.fanOutWrite groups per tag either way)
        throw new RuleConfigError(s"emit_mode must be record or batch: $m")
    }
    val hostname = params.get("hostname")
      .orElse(params.get("hostname_command").map(hostnameFromCommand(_)))
      .getOrElse(RoutingConfig.defaultHostname)
    RoutingConfig(
      capitalizeRegexBackreference =
        params.get("capitalize_regex_backreference").exists(parseBool),
      removeTagPrefix = params.get("remove_tag_prefix"),
      removeTagRegexp = params.get("remove_tag_regexp"),
      hostname = hostname)
  }

  private def parseBool(s: String): Boolean = s.trim.toLowerCase match {
    case "true" | "yes" | "1"  => true
    case "false" | "no" | "0"  => false
    case other => throw new RuleConfigError(s"not a bool: $other")
  }

  private def buildRule(params: Map[String, String], where: String): Rule = {
    params.keys.find(!ruleParams.contains(_)).foreach(k =>
      throw new RuleConfigError(s"unknown <rule> parameter: $k in $where"))
    def req(k: String) = params.getOrElse(k,
      throw new RuleConfigError(s"<rule> is missing required parameter '$k' in $where"))
    Rule(
      key = req("key"),
      pattern = req("pattern"), // /re/ and bare forms both OK (regexp_type)
      tag = req("tag"),
      label = params.get("label").map(l => l.stripPrefix("@")),
      invert = params.get("invert").exists(parseBool))
  }

  /** Parse the reference's config-text shape:
    * {{{
    * remove_tag_prefix input
    * <rule>
    *   key     lang
    *   pattern /^(en|de)$/
    *   tag     lang.$1
    *   label   @ALT
    * </rule>
    * }}}
    * Comments are FULL-LINE only (`#` first non-blank char); an inline `#`
    * is part of the value — a rule pattern like `/^ERROR #\d+$/` must not be
    * truncated at the `#`. Params split on first whitespace; the value runs
    * to end of line.
    */
  def fromConf(text: String): (Seq[Rule], RoutingConfig) = {
    val top = scala.collection.mutable.Map.empty[String, String]
    val rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var inRule: Option[scala.collection.mutable.Map[String, String]] = None

    text.linesIterator.zipWithIndex.foreach { case (raw, i) =>
      val line = if (raw.trim.startsWith("#")) "" else raw.trim
      val where = s"line ${i + 1}"
      if (line.nonEmpty) line match {
        case "<rule>" =>
          if (inRule.isDefined)
            throw new RuleConfigError(s"nested <rule> at $where")
          inRule = Some(scala.collection.mutable.Map.empty)
        case "</rule>" =>
          val r = inRule.getOrElse(
            throw new RuleConfigError(s"</rule> without <rule> at $where"))
          rules += buildRule(r.toMap, where)
          inRule = None
        case directive if directive.startsWith("<") =>
          throw new RuleConfigError(s"unknown section $directive at $where")
        case kv =>
          val (k, v) = kv.split("\\s+", 2) match {
            case Array(k, v) => (k, v.trim)
            case Array(k)    => (k, "")
          }
          inRule match {
            case Some(r) => r += (k -> v)
            case None    => top += (k -> v)
          }
      }
    }
    if (inRule.isDefined) throw new RuleConfigError("unterminated <rule> section")
    (rules.toSeq, buildConfig(top.toMap))
  }

  def fromConfFile(path: String): (Seq[Rule], RoutingConfig) =
    fromConf(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
}
