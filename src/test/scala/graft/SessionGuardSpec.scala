package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session set-up in one place: every main builds its session
  * through [[GraftSession.local]] and sweeps pinned state through
  * [[GraftSession.releaseAll]], so a new entry point cannot quietly run
  * a different configuration or carry its own copy of the sweep.
  */
class SessionGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[Path, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def occurrences(token: String): Map[Path, Int] =
    sources.map { case (p, s) => p -> token.r.findAllIn(s).length }.filter(_._2 > 0)

  private val sessionFile = Paths.get("src/main/scala/graft/GraftSession.scala")

  test("SparkSession.builder() is called only in GraftSession") {
    assert(occurrences(raw"SparkSession\s*\.\s*builder") == Map(sessionFile -> 1))
  }

  test("the persisted-RDD sweep lives only in GraftSession.releaseAll") {
    val found = occurrences("getPersistentRDDs")
    assert(found.keySet == Set(sessionFile), found)
    val text = sources(sessionFile)
    val start = text.indexOf("def releaseAll")
    assert(start >= 0, "GraftSession.releaseAll is missing")
    // the method body ends at the first closing brace at member indent
    val body = text.substring(start, text.indexOf("\n  }\n", start))
    assert("getPersistentRDDs".r.findAllIn(body).length == found(sessionFile))
  }
}
