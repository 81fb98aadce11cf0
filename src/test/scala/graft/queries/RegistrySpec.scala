package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shape, checked without a Spark session: no build runs. */
class RegistrySpec extends AnyFunSuite {

  private def stub(name: String) = QueryDef(name, (_, _) => ???, "SELECT 1")

  test("assembling a registry with a duplicated name throws") {
    val e = intercept[IllegalArgumentException] {
      Registry.assemble(Seq(stub("a1"), stub("b1")), Seq(stub("a1")))
    }
    assert(e.getMessage.contains("a1"))
    assert(Registry.assemble(Seq(stub("a1")), Seq(stub("b1"))).map(_.name) ===
      Seq("a1", "b1"))
  }

  test("every registered query carries a non-empty oracle") {
    assert(Registry.all.nonEmpty)
    val missing = Registry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(missing.isEmpty)
  }
}
