package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Executable form of CLAUDE.md's artifact rule: a disk artifact is
  * read through its handle (`SessionRegistry.Artifact.read`), which
  * resolves each table once and then starts no job, never by a
  * `spark.read.parquet` of its path, which lists the files and infers
  * the schema again on every call. Only the registry itself and the
  * source-table loaders in `Tables` read parquet by path. */
class ArtifactDisciplineSpec extends AnyFunSuite {

  private val src: Path = Paths.get("src/main/scala")
  private val readers = Set("SessionRegistry.scala", "Tables.scala")

  /** `Sources.roundTrip` reads its csv, json and orc copies back with
    * the fixed event schema: they are not parquet tables, so the
    * handle does not serve them. */
  private val allowed = Seq(
    "Sources.scala" -> "spark.read.schema(schema).json(s\"$base/json\")",
    "Sources.scala" -> "spark.read.schema(schema).orc(s\"$base/orc\")")

  test("no parquet read of an artifact path outside SessionRegistry in src/main/scala") {
    val sources = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under $src")
    val offenders = sources.filterNot(f => readers(f.getFileName.toString)).flatMap { f =>
      val name = f.getFileName.toString
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if (line.contains("read.parquet(") || line.contains(".read.schema(")) &&
            !allowed.exists { case (n, s) => n == name && line.contains(s) } =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"artifact reads outside SessionRegistry.Artifact.read:\n${offenders.mkString("\n")}")
    // the exception is live: each allowed read is still in its file
    allowed.foreach { case (n, s) =>
      assert(sources.exists(f => f.getFileName.toString == n &&
        Files.readAllLines(f).asScala.exists(_.contains(s))), s"stale exception $n: $s")
    }
  }
}
