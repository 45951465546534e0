package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class CoverageSpec extends AnyFunSuite {
  test("committed COVERAGE.md equals Coverage.render() for the current registry") {
    val committed = Files.readString(Paths.get("COVERAGE.md"))
    assert(committed == Coverage.render(),
      "COVERAGE.md is stale: regenerate it with `sbt \"runMain graft.Coverage\"`")
  }
}
