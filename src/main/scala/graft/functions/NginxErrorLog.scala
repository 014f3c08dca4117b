package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.RegexGroups

/** NGINX `error_log` parse battery.
  *
  * The reference's EKS workload is NGINX (reference:
  * lib/computes/eks/nginx-service.ts:29-44 — the nginx container image
  * behind the Fluent Bit log route), and NGINX error lines use a
  * grammar that matches neither the Apache combined-log nor the Apache
  * error_log battery:
  *
  *   `2026/08/12 10:00:00 [error] 31#31: *17 open() "/x" failed
  *    (2: No such file or directory), client: 10.1.2.3, server: localhost`
  *
  * Without this battery every EKS error line lands in the DLQ. Same
  * design as the other batteries: one [[graft.plans.RegexGroups]] match
  * per line, fields as builtin expressions over its groups, no UDFs, so
  * the dispatch stays one shuffle-free projection.
  */
object NginxErrorLog extends LineGrammar {

  /** `ts [level] pid#tid: *conn msg[, client: ip, server: name]`.
    * The message core is captured lazily so the optional trailing
    * `client:`/`server:` context fields split off when present; a line
    * without context keeps its whole remainder as the message.
    */
  val pattern: String =
    "^(\\d{4}/\\d{2}/\\d{2} \\d{2}:\\d{2}:\\d{2}) " +
      "\\[([a-z]+)\\] (\\d+)#(\\d+): \\*(\\d+) " +
      "(.*?)(?:, client: ([0-9.]+), server: (\\S+))?$"

  protected def fieldsOf(m: Column): Seq[(String, Column)] = {
    def g(i: Int) = RegexGroups.group(m, i)
    Seq(
      // `2026/08/12 10:00:00` → TimestampType (second precision)
      "ts" -> to_timestamp(g(1), "yyyy/MM/dd HH:mm:ss"),
      "level" -> g(2), "pid" -> g(3).cast("long"), "conn" -> g(5).cast("long"),
      "client_ip" -> g(7), "msg" -> g(6))
  }

  def ts(line: Column): Column       = field(line, "ts")
  def level(line: Column): Column    = field(line, "level")
  def pid(line: Column): Column      = field(line, "pid")
  def conn(line: Column): Column     = field(line, "conn")
  def clientIp(line: Column): Column = field(line, "client_ip")
  def msg(line: Column): Column      = field(line, "msg")
}
