package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog

/** The entry points' shared core, checked without a Spark session. */
class HarnessSpec extends AnyFunSuite {

  test("select fails loudly on unknown names and lists them") {
    val known = Catalog.all.head.name
    val e = intercept[IllegalArgumentException](
      Bench.select(Set(known, "no_such_query", "also_missing")))
    assert(e.getMessage.contains("also_missing, no_such_query"))
    assert(!e.getMessage.contains(known))
  }

  test("select of the empty set is the whole catalog, name-sorted") {
    val names = Bench.select(Set.empty).map(_.name)
    assert(names.size === 285)
    assert(names === Catalog.all.map(_.name).sorted)
    assert(Bench.select(names.take(2).reverse.toSet).map(_.name) === names.take(2))
  }

  test("Verify's JSON escaper round-trips through a JSON parser") {
    val s = "say \"x\" \\ then\ta\u0001b\r\nend"
    assert(new ObjectMapper().readValue(Verify.jsonString(s), classOf[String]) === s)
  }
}
