package graft.queries

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants + a smoke run of every query at sf0.001
  * (the correctness gate itself runs at sf0.01 via Verify; this catches
  * breakage early and cheaply in `sbt test`).
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("registry names are unique and oracle keys are a subset") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(Registry.benchNames.toSet.subsetOf(names.toSet))
  }

  test("query-name arguments that name no registered query are rejected, listed") {
    val e = intercept[IllegalArgumentException](Registry.requireRegistered(
      Seq("q_typo", "q_j1_three_way_join", "q_other", "q_typo")))
    assert(e.getMessage.contains("unknown query name(s): q_typo, q_other ("), e.getMessage)
    Registry.requireRegistered(Seq("q_j1_three_way_join"))
    Registry.requireRegistered(Seq.empty)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001") {
    val failures = Registry.all.flatMap { q =>
      try { q.fn(spark, sf).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
