package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate table ([[SparkEntry.gates]]) as data: checked without
  * building a gate, so no Spark job runs.
  */
class GateSpec extends AnyFunSuite {
  private val names = SparkEntry.gates.map(_.name)

  test("gate names are unique across the three gate lists") {
    val dups = names.groupBy(identity).collect { case (n, s) if s.size > 1 => n }
    assert(dups.isEmpty, s"gates listed more than once: ${dups.toSeq.sorted.mkString(", ")}")
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("every gate has a non-blank oracle") {
    val blank = SparkEntry.gates.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates without oracle SQL: ${blank.mkString(", ")}")
  }

  test("Bench's stream-last set and Explain's flagship set name gates") {
    val unknown = (Bench.streamLast ++ Explain.flagship).filterNot(names.toSet)
    assert(unknown.isEmpty, s"not gates: ${unknown.mkString(", ")}")
  }
}
