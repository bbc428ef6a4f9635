package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload partition guard: every `SparkEntry.queries` key belongs to
  * exactly one workload, so a new query cannot silently fall out of the
  * benchmark. */
class PartitionSpec extends AnyFunSuite {
  private val queries = graft.SparkEntry.queries.keySet
  private val assigned = QueryMap.entries.map(_._1)

  test("every query is assigned, none twice, none unknown") {
    val twice = assigned.groupBy(identity).collect { case (q, xs) if xs.size > 1 => q }
    assert(twice.isEmpty, s"assigned twice: ${twice.toSeq.sorted}")
    assert((queries -- assigned).isEmpty,
      s"unassigned (add them to QueryMap): ${(queries -- assigned).toSeq.sorted}")
    assert((assigned.toSet -- queries).isEmpty,
      s"not a SparkEntry query: ${(assigned.toSet -- queries).toSeq.sorted}")
  }

  test("the statements workload is the statement block q13, q14, q163-q200") {
    val block = queries.filter { q =>
      val n = q.drop(1).takeWhile(_.isDigit).toInt
      n == 13 || n == 14 || (n >= 163 && n <= 200)
    }
    assert(QueryMap.of(QueryMap.S).toSet == block)
    assert(QueryMap.of(QueryMap.A).size == queries.size - block.size)
  }

  test("panels hold queries of their own workload, run inside the work dir") {
    assert(QueryMap.analyticsPanel.forall(q => QueryMap.byName.get(q).exists(_._1 == QueryMap.A)))
    assert(QueryMap.statementsPanel.forall(q => QueryMap.byName.get(q).exists(_._1 == QueryMap.S)))
    assert(QueryMap.outsideWorkDir.keySet.forall(q => QueryMap.byName.get(q).exists(_._1 == QueryMap.S)))
    assert(!QueryMap.statementsPanel.exists(QueryMap.outsideWorkDir.contains))
  }
}
