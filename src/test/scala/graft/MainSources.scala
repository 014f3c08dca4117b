package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions._

/** The Scala sources under src/main, for tests that pin where a
  * mechanism may be written out.
  */
object MainSources {

  /** One source file; `label(at)` names the member def enclosing
    * offset `at` as `File.scala:def` (a nested helper is part of its
    * enclosing member).
    */
  final case class Source(file: String, text: String) {
    // member-level defs (two-space indent)
    private val defs = """(?m)^  (?! )[^\n]*?\bdef\s+(\w+)""".r.findAllMatchIn(text).toSeq

    def label(at: Int): String =
      s"$file:${defs.takeWhile(_.start < at).lastOption.fold("?")(_.group(1))}"

    /** The text of the member enclosing `at`. */
    def member(at: Int): String =
      text.substring(defs.takeWhile(_.start < at).lastOption.fold(0)(_.start),
        defs.find(_.start > at).fold(text.length)(_.start))

    /** `label` of every match of `re`. */
    def hits(re: Regex): Seq[String] = re.findAllMatchIn(text).map(m => label(m.start)).toSeq
  }

  /** A mechanism is written out only at the `allowed` labels, and each
    * of them still writes it (the allow-list is not stale).
    */
  def assertOnly(hits: Seq[String], allowed: Set[String], use: String): Unit = {
    assert(hits.filterNot(allowed).isEmpty, s"use $use: ${hits.filterNot(allowed).distinct}")
    assert(allowed.subsetOf(hits.toSet), s"stale allow-list: ${allowed -- hits}")
  }

  lazy val all: List[Source] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => Source(p.getFileName.toString, new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }
}
