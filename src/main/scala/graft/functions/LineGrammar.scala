package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.RegexGroups

/** A log-line grammar parsed through one [[RegexGroups]] match: validity
  * and every field read the same match, so the fields one projection
  * selects share it through subexpression elimination.
  */
trait LineGrammar {
  val pattern: String

  /** The parsed fields of a [[groups]] match, by name, in [[parsed]]'s
    * order: the one place each field's group and conversion are written.
    */
  protected def fieldsOf(m: Column): Seq[(String, Column)]

  /** One match of [[pattern]] per line: `matched` plus groups `g1`…`gn`. */
  def groups(line: Column): Column = RegexGroups(line, pattern)

  /** All parsed fields of a [[groups]] match as a struct. A plan that
    * also needs [[isValid]] selects `groups` once and passes it here, so
    * the line is matched once.
    */
  def fromGroups(m: Column): Column =
    struct(fieldsOf(m).map { case (name, c) => c.as(name) }: _*)

  /** All parsed fields as a struct — `select(parsed($"line").as("p"), $"p.*")`. */
  def parsed(line: Column): Column = fromGroups(groups(line))

  /** A line that fails the grammar → parse failure (format dispatch,
    * DLQ routing): `rlike`'s answer.
    */
  def isValid(line: Column): Column = RegexGroups.matched(groups(line))

  /** One parsed field of the line. */
  protected def field(line: Column, name: String): Column =
    fieldsOf(groups(line)).toMap.apply(name)
}
