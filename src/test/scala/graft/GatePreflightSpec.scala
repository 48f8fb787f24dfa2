package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate preflight's disk demand scales with the input it gates. */
class GatePreflightSpec extends AnyFunSuite {

  test("disk demand: 60 GB at the sf10 calibration point, linear in N, 1 GB floor") {
    import GatePreflight.requiredFreeGb
    assert(requiredFreeGb(200000L) === 60L)
    assert(requiredFreeGb(800000L) === 240L)
    // sf1 scale: 60 * 0.1
    assert(requiredFreeGb(20000L) === 6L)
    // rounded up
    assert(requiredFreeGb(20001L) === 7L)
    assert(requiredFreeGb(2000L) === 1L)
    assert(requiredFreeGb(0L) === 1L)
    val ns = Seq(0L, 500L, 2000L, 20000L, 65536L, 200000L, 1000000L, 10000000L)
    assert(ns.map(requiredFreeGb) === ns.map(requiredFreeGb).sorted, "monotone in N")
  }

  test("the demand is read from the embeddings footers: a small sf asks for the floor") {
    val n = GatePreflight.embeddingRows(SparkSpec.Sf)
    assert(n === 500L)
    assert(GatePreflight.requiredFreeGb(n) === 1L)
  }
}
