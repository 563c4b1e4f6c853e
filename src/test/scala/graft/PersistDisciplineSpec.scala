package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Executable form of CLAUDE.md's persist rule: no persist outlives
  * its call. A frame read only inside its call is persisted through
  * `SessionRegistry.persisting` (released when the block exits), and
  * state reused across calls is a disk or held artifact — so a bare
  * `persist`, `cache`, `unpersist` or `localCheckpoint` appears
  * nowhere in src/main but in SessionRegistry.scala. */
class PersistDisciplineSpec extends AnyFunSuite {

  private val src: Path = Paths.get("src/main/scala")
  private val calls = Seq(".persist(", ".cache()", ".unpersist(", "localCheckpoint(")

  test("no bare persist, cache, unpersist or localCheckpoint outside SessionRegistry") {
    val sources = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("SessionRegistry.scala")), s"no SessionRegistry under $src")
    val offenders = sources.filterNot(_.endsWith("SessionRegistry.scala")).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if calls.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"persists outside SessionRegistry.persisting/held:\n${offenders.mkString("\n")}")
  }
}
