package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules over `src/main/scala`. */
class SourceRulesSpec extends AnyFunSuite {

  test("localCheckpoint( is called only under graft/util: loops go through Fixpoint") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).startsWith(Paths.get("graft", "util")))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") => s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty,
      "iterate through graft.util.Fixpoint (or Lineage.checkpoint for a " +
        s"one-shot materialization) instead: ${offenders.mkString(", ")}")
  }
}
