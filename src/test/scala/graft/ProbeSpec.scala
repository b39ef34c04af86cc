package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Probe]]'s `"queries"` renderer: valid JSON for any mult count,
  * α per adjacent step and pass, and `null` for a failed pass.
  */
class ProbeSpec extends AnyFunSuite {

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  test("one mult: valid JSON with no α key") {
    val json = Probe.queriesJson(Seq(1), Seq("q69", "runs"),
      Map(1 -> Map("q69" -> Seq(1.5, 0.25), "runs" -> Seq(2.0, 1.0))))
    val q69 = parse(json).get("q69")
    assert(q69.fieldNames().asScala.toSeq == Seq("m1"))
    assert(q69.get("m1").get(0).asDouble() == 1.5)
    assert(q69.get("m1").get(1).asDouble() == 0.25)
    assert(parse(json).get("runs").fieldNames().asScala.toSeq == Seq("m1"))
  }

  test("two mults: α = log10(t_b/t_a)/log10(b/a) per pass") {
    val json = Probe.queriesJson(Seq(10, 1), Seq("bmhead"),
      Map(1 -> Map("bmhead" -> Seq(2.0, 1.0)),
        10 -> Map("bmhead" -> Seq(20.0, 4.0))))
    val cell = parse(json).get("bmhead")
    assert(cell.fieldNames().asScala.toSeq == Seq("m1", "m10", "a1_10"))
    val a = cell.get("a1_10")
    assert(math.abs(a.get(0).asDouble() - 1.0) < 0.005)
    assert(math.abs(a.get(1).asDouble() - math.log10(4.0)) < 0.005)
  }

  test("a failed pass and the α next to it render null") {
    val json = Probe.queriesJson(Seq(1, 10), Seq("q38"),
      Map(1 -> Map("q38" -> Seq(1.0, Double.NaN)),
        10 -> Map("q38" -> Seq(10.0, 2.0))))
    val cell = parse(json).get("q38")
    assert(cell.get("m1").get(1).isNull)
    assert(!cell.get("m1").get(0).isNull)
    assert(cell.get("a1_10").get(1).isNull)
    assert(math.abs(cell.get("a1_10").get(0).asDouble() - 1.0) < 0.005)
  }
}
