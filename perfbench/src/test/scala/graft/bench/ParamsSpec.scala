package graft.bench

import graft.EngineQueries
import org.scalatest.funsuite.AnyFunSuite

class ParamsSpec extends AnyFunSuite {

  private def gate(name: String): (String, String) =
    EngineQueries.suite.collectFirst { case (`name`, s, o) => (s, o) }.get

  test("a seeded literal lands identically in the SPARQL and in its oracle SQL") {
    for (p <- Params.all) {
      val (sparql, oracle) = gate(p.gate)
      val value = if (p.literal.forall(_.isDigit)) "123457" else "VALUE_X"
      val (s, o) = Params.bind(p, sparql, oracle, value)
      val sFrag = p.sparqlFrag.replace(p.literal, value)
      val oFrag = p.oracleFrag.replace(p.literal, value)
      assert(s.contains(sFrag) && o.contains(oFrag), p.gate)
      assert(!s.contains(p.sparqlFrag) && !o.contains(p.oracleFrag), p.gate)
      // nothing but the fragment changed
      assert(s == sparql.replace(p.sparqlFrag, sFrag), p.gate)
      assert(o == oracle.replace(p.oracleFrag, oFrag), p.gate)
    }
  }

  test("every parameter names a gate of the benchmark's workloads") {
    val gates = Workloads.SparqlGates.toSet
    assert(Params.all.map(_.gate).toSet.subsetOf(gates))
  }

  test("a fragment must occur exactly once") {
    intercept[IllegalArgumentException](Params.substitute("a > 1", "b > 1", "1", "2"))
    intercept[IllegalArgumentException](Params.substitute("a > 1 or a > 1", "a > 1", "1", "2"))
    assert(Params.substitute("x a > 1 y", "a > 1", "1", "25") == "x a > 25 y")
  }

  test("candidates come from the quantile band") {
    val xs = (1 to 100).map(_.toString)
    assert(Params.inBand(xs, (0.45, 0.55)) == (46 to 55).map(_.toString))
    assert(Params.inBand(xs, (0.0, 1.0)) == xs)
    assert(Params.inBand(IndexedSeq("only"), (0.9, 0.95)) == IndexedSeq("only"))
  }
}
