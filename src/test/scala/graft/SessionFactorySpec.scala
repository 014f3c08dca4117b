package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the one session factory: every main and the test
  * session get the same extensions and optimizer config from it.
  */
class SessionFactorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GraftSession.scala is the only place a SparkSession is built") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder("
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val hits = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter { p: Path =>
      p.getFileName.toString != "GraftSession.scala" &&
        new String(Files.readAllBytes(p), "UTF-8").contains(needle)
    }
    assert(hits.isEmpty, s"sessions built outside GraftSession: ${hits.mkString(", ")}")
  }

  test("the test session carries the bench's optimizer exclusion") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules")
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("cosine_sim resolves from the session's extensions, unregistered") {
    assert(spark.catalog.functionExists("cosine_sim"))
  }
}
