package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session set-up and pinned state each in one place: every main
  * builds its session through [[GraftSession.local]], and every persist,
  * cache, checkpoint and release goes through `CheckpointScope` and
  * `Checkpoints` — so a new entry point cannot quietly run a different
  * configuration, and no code can pin state the scope does not own or
  * sweep state that another query owns.
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

  private val checkpointsFile = Paths.get("src/main/scala/graft/operators/Checkpoints.scala")

  /** Source with comments blanked out, so prose about a persist is not
    * counted as one.
    */
  private def code(text: String): String =
    text.replaceAll(raw"(?s)/\*.*?\*/", " ").replaceAll("//[^\n]*", " ")

  test("pins are taken and released only in Checkpoints.scala") {
    val pinning = raw"\bpersist\(|\.cache\(\)|localCheckpoint|\.checkpoint\(|unpersist\(|getPersistentRDDs"
    val found = sources.map { case (p, s) => p -> pinning.r.findAllIn(code(s)).toSeq }
      .filter(_._2.nonEmpty)
    assert(found.keySet == Set(checkpointsFile), found.removed(checkpointsFile))
    // the context-wide registry is read in one named helper, for its ids
    val text = code(sources(checkpointsFile))
    val start = text.indexOf("def pinnedIds")
    assert(start >= 0, "Checkpoints.pinnedIds is missing")
    val helper = text.substring(start, text.indexOf("\n", start))
    assert("getPersistentRDDs".r.findAllIn(text).length == 1 &&
      helper.contains("getPersistentRDDs.keySet"), helper)
  }
}
