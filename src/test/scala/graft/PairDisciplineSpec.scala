package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Executable form of CLAUDE.md's pair-generation rule: a posting
  * array is exploded into its (i < j) pairs by the PairExprs codegen
  * kernel, never by a nested `transform(slice(…))` lambda, which runs
  * interpreted and allocates a lambda frame per element. */
class PairDisciplineSpec extends AnyFunSuite {

  private val src: Path = Paths.get("src/main/scala")

  test("no nested transform(slice(...)) pair explosion in src/main/scala") {
    val sources = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under $src")
    val offenders = sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("transform(slice(") => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"pair explosions outside PairExprs.postingPairs:\n${offenders.mkString("\n")}")
  }
}
