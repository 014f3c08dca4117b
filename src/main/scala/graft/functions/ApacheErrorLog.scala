package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.RegexGroups

/** Apache `error_log` parse battery.
  *
  * The reference's Kinesis agent ships BOTH access_log* AND error_log*
  * from the EC2 web tier into the same delivery stream (reference:
  * lib/computes/ec2/ec2-startup.sh — the agent.json `flows` block tails
  * /etc/httpd/logs/error_log* alongside access_log*), so a complete
  * transform battery must parse the classic error format too or every
  * error line lands in the DLQ:
  *
  *   `[Wed Oct 11 14:32:52 2000] [error] [client 127.0.0.1] message`
  *
  * Same design as the access battery: one [[graft.plans.RegexGroups]]
  * match per line, fields as builtin expressions over its groups, no
  * UDFs.
  */
object ApacheErrorLog extends LineGrammar {

  /** `[ts] [level] [client ip] message` */
  val pattern: String =
    "^\\[([^\\]]+)\\] \\[([a-z]+)\\] \\[client ([^\\]]+)\\] (.*)$"

  protected def fieldsOf(m: Column): Seq[(String, Column)] = {
    def g(i: Int) = RegexGroups.group(m, i)
    Seq(
      // `Wed Oct 11 14:32:52 2000` → TimestampType. Spark's pattern
      // letter `E` (day-of-week) is format-only, so parsing drops the
      // fixed-width `EEE ` prefix and reads the rest.
      "ts" -> to_timestamp(substring(g(1), 5, 24), "MMM dd HH:mm:ss yyyy"),
      "level" -> g(2), "client_ip" -> g(3), "msg" -> g(4))
  }

  def ts(line: Column): Column       = field(line, "ts")
  def level(line: Column): Column    = field(line, "level")
  def clientIp(line: Column): Column = field(line, "client_ip")
  def msg(line: Column): Column      = field(line, "msg")
}
