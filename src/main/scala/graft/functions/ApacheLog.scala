package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.RegexGroups

/** Apache combined-log-format parse battery (SURVEY §2 B1/B2/B4).
  *
  * The reference's EC2 transformer only wraps the raw line as
  * {"logs": line} (reference: lib/computes/ec2/lambda/index.js:4-6) and
  * README.md:58 calls out the intended enhancement — "extract the
  * timestamp, HTTP, and browser information ... as separate attributes".
  * This battery implements that enhancement Spark-first: the grammar is
  * matched once per line by the codegen'd [[graft.plans.RegexGroups]]
  * kernel and every field is a builtin expression over its groups
  * (to_timestamp / cast / case-when) — no Scala UDFs — so
  * scan→parse→filter→agg stays inside one whole-stage-codegen span at
  * 100 TB.
  */
object ApacheLog extends LineGrammar {

  /** Combined log format:
    * ip ident user [ts] "verb path proto" status bytes "referrer" "agent"
    */
  val pattern: String =
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\S+) (\\S+) (\\S+)\" (\\d+) (\\d+|-) \"([^\"]*)\" \"([^\"]*)\"$"

  protected def fieldsOf(m: Column): Seq[(String, Column)] = {
    def g(i: Int) = RegexGroups.group(m, i)
    Seq(
      "ip" -> g(1),
      // `29/Jul/2021:15:32:33 +0000` → TimestampType (UTC session tz)
      "ts" -> to_timestamp(g(4), "dd/MMM/yyyy:HH:mm:ss Z"),
      "verb" -> g(5), "path" -> g(6), "proto" -> g(7),
      "status" -> g(8).cast("long"),
      // nullif(g, "-") written as a `when`: nullif's common-expression
      // rewrite would move the group into a projection of its own,
      // which matches the line a second time
      "bytes" -> when(g(9) =!= "-", g(9)).cast("long"),
      "referrer" -> g(10), "agent" -> g(11))
  }

  def ip(line: Column): Column       = field(line, "ip")
  def ts(line: Column): Column       = field(line, "ts")
  def verb(line: Column): Column     = field(line, "verb")
  def path(line: Column): Column     = field(line, "path")
  def proto(line: Column): Column    = field(line, "proto")
  def status(line: Column): Column   = field(line, "status")
  def bytes(line: Column): Column    = field(line, "bytes")
  def referrer(line: Column): Column = field(line, "referrer")
  def agent(line: Column): Column    = field(line, "agent")

  /** B2 — browser family from user-agent (README.md:58 "browser
    * information"). Order matters: Chrome UAs contain "Safari".
    */
  def browser(agent: Column): Column =
    when(agent.contains("Firefox"), "Firefox")
      .when(agent.contains("Chrome"), "Chrome")
      .when(agent.contains("Safari"), "Safari")
      .when(agent.startsWith("curl"), "curl")
      .otherwise("other")

  /** B2 — OS family from user-agent. */
  def os(agent: Column): Column =
    when(agent.contains("Windows"), "Windows")
      .when(agent.contains("Mac OS X"), "macOS")
      .when(agent.contains("Linux") || agent.contains("X11"), "Linux")
      .otherwise("other")

  /** B4 — the reference's minimal EC2 transform: raw line → {"logs": line}
    * (reference: lib/computes/ec2/lambda/index.js:4-6).
    */
  def wrapLogsJson(line: Column): Column = to_json(struct(line.as("logs")))
}
