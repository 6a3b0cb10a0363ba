package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C-PARSE surface: rule tables loaded from Fluentd-shape conf text, with
  * the reference's ConfigError behavior
  * (test_out_rewrite_tag_filter.rb:13-58 parse tests, :169-186 hostname).
  */
class RuleTableLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val conf =
    """# comment line
      |capitalize_regex_backreference true
      |remove_tag_prefix input
      |<rule>
      |  key     domain
      |  pattern /^www\.(.+)\.com$/
      |  tag     site.$1
      |</rule>
      |# a full-line comment between sections
      |<rule>
      |  key     status
      |  pattern ^5\d\d$
      |  tag     alert.${tag}
      |  label   @ALERT
      |  invert  true
      |</rule>""".stripMargin

  test("conf text: params, /re/ and bare patterns, label, invert, comments") {
    val (rules, cfg) = RuleTableLoader.fromConf(conf)
    assert(cfg.capitalizeRegexBackreference)
    assert(cfg.removeTagPrefix.contains("input"))
    assert(rules == Seq(
      Rule("domain", "/^www\\.(.+)\\.com$/", "site.$1"),
      Rule("status", "^5\\d\\d$", "alert.${tag}", label = Some("ALERT"), invert = true)))
    assert(rules.head.normalizedPattern == "^www\\.(.+)\\.com$")
  }

  test("comments are full-line only: an inline '#' is part of the value") {
    val (rules, _) = RuleTableLoader.fromConf(
      """<rule>
        |  key     message
        |  pattern /^ERROR #\d+$/
        |  tag     errors.numbered
        |</rule>""".stripMargin)
    assert(rules.head.normalizedPattern == "^ERROR #\\d+$")
  }

  test("legacy rewriterule<n> syntax is rejected with the reference's error") {
    val e = intercept[RuleConfigError](RuleTableLoader.fromConf(
      "rewriterule1 domain ^www\\..+$ site.rewritten"))
    assert(e.getMessage.contains("has been dropped"))
  }

  test("config errors: unknown params, missing fields, unterminated rule") {
    assertThrows[RuleConfigError](RuleTableLoader.fromConf("not_a_param x"))
    assertThrows[RuleConfigError](RuleTableLoader.fromConf(
      "<rule>\n  key k\n  pattern p\n</rule>")) // missing tag
    assertThrows[RuleConfigError](RuleTableLoader.fromConf(
      "<rule>\n  key k\n  pattern p\n  tag t\n  frobnicate 1\n</rule>"))
    assertThrows[RuleConfigError](RuleTableLoader.fromConf("<rule>\n key k"))
    assertThrows[RuleConfigError](RuleTableLoader.fromConf(
      "emit_mode sideways\n<rule>\n key k\n pattern p\n tag t\n</rule>"))
  }

  test("hostname_command runs once on the driver with chomp semantics") {
    // mirrors the reference's hostname test shape (:169-186): the command's
    // output (sans trailing newline) becomes the ${hostname} literal
    val (_, cfg) = RuleTableLoader.fromConf(
      """hostname_command printf 'short-host\n'
        |<rule>
        |  key k
        |  pattern p
        |  tag t
        |</rule>""".stripMargin)
    assert(cfg.hostname == "short-host")
    assertThrows[RuleConfigError](
      RuleTableLoader.hostnameFromCommand("exit 3"))
    // explicit hostname wins over hostname_command
    val (_, cfg2) = RuleTableLoader.fromConf(
      "hostname literal-host\nhostname_command echo other\n" +
        "<rule>\n key k\n pattern p\n tag t\n</rule>")
    assert(cfg2.hostname == "literal-host")
  }

  test("hostname_command: hung command times out with a clear error") {
    val err = intercept[RuleConfigError](
      RuleTableLoader.hostnameFromCommand("sleep 60", timeoutSec = 1L))
    assert(err.getMessage.contains("timed out"))
    // a command that ignores its stdout pipe must not hang the reader either
    val err2 = intercept[RuleConfigError](
      RuleTableLoader.hostnameFromCommand("exec sleep 60", timeoutSec = 1L))
    assert(err2.getMessage.contains("timed out"))
    // A backgrounded grandchild holding the pipe after the shell exits is
    // a PLATFORM RACE: the JVM process reaper normally severs the pipe at
    // shell exit (the reader then hits EOF and the shell's own output comes
    // back whole), but if the reader is still blocked the guard must error
    // rather than return a truncated value. Both outcomes are sound; what
    // must never happen is a silent PREFIX of the shell's output.
    try {
      val out = RuleTableLoader.hostnameFromCommand(
        "echo partial-host; (sleep 60; echo more) &", timeoutSec = 5L)
      assert(out == "partial-host") // reaper severed the pipe: complete output
    } catch {
      case e: RuleConfigError =>
        assert(e.getMessage.contains("stdout stayed open"))
    }
  }

  test("conf-loaded table routes identically to the literal table") {
    import spark.implicits._
    val df = Seq(
      ("r1", "www.google.com", "200"),
      ("r2", "www.example.com", "503"),
      ("r3", "not-a-site", "301"))
      .toDF("id", "domain", "status")
      .withColumn("tag0", lit("input.web"))
    val (rules, cfg) = RuleTableLoader.fromConf(conf)
    val viaLoader = Router.route(df, rules, cfg, "tag0")
      .select("id", "new_tag", "new_label").collect().map(_.toSeq).toSet
    val literal = Router.route(df,
      Seq(
        Rule("domain", "^www\\.(.+)\\.com$", "site.$1"),
        Rule("status", "^5\\d\\d$", "alert.${tag}", label = Some("ALERT"), invert = true)),
      RoutingConfig(capitalizeRegexBackreference = true,
        removeTagPrefix = Some("input"), hostname = cfg.hostname), "tag0")
      .select("id", "new_tag", "new_label").collect().map(_.toSeq).toSet
    assert(viaLoader == literal)
    // capitalize came through the loader: $1 backref is Ruby-capitalized
    assert(viaLoader.exists(_.contains("site.Google")))
  }
}
