package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.promql.PromQL

/** Spark-free checks over the registered queries: no name is registered
  * twice (a duplicate key would silently drop one query from the map),
  * and every string of the PromQL table round-trips through the printer,
  * which extends PropertySpec's random round-trip to the real queries.
  */
class QueryTableSpec extends AnyFunSuite {

  test("every registered query name is distinct") {
    val names = SparkEntry.registered.map(_._1)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"registered twice: ${twice.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every PromQL table string: parse(render(parse(q))) == parse(q)") {
    val bad = SparkEntry.promqlQueries.flatMap { e =>
      val ast = PromQL.parse(e.query)
      val printed = PromQL.render(ast)
      val back = scala.util.Try(PromQL.parse(printed))
      if (back.toOption.contains(ast)) None
      else Some(s"${e.name}: «${e.query}» printed «$printed» reparsed $back")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
