package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TopicStream

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

  test("the preflight wipes the scratch root -Dgraft.stream.scratch names, and nothing else") {
    val tmp = Files.createTempDirectory("graft-preflight")
    val stale = Files.createDirectories(tmp.resolve("scratch/old-run")).resolve("part-0")
    Files.writeString(stale, "stale")
    val sibling = Files.writeString(tmp.resolve("keep.txt"), "keep")
    // the default root must survive a wipe of the overridden one
    val marker = Files.createDirectories(Paths.get("target/stream-scratch"))
      .resolve("gate-preflight-spec-marker")
    Files.writeString(marker, "keep")
    val prev = sys.props.get("graft.stream.scratch")
    sys.props("graft.stream.scratch") = tmp.resolve("scratch").toString
    try {
      GatePreflight.run(SparkSpec.Sf, main = "spec")
      assert(!Files.exists(stale), "the overridden root keeps its stale scratch")
      assert(Files.exists(sibling))
      assert(Files.exists(marker), "the default root was wiped instead")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.stream.scratch") = v
        case None => sys.props.remove("graft.stream.scratch")
      }
      Files.deleteIfExists(marker)
      TopicStream.deleteRecursively(tmp)
    }
  }
}
