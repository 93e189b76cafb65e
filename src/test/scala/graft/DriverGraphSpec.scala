package graft

import graft.operators.DriverGraph
import org.scalatest.funsuite.AnyFunSuite

/** The small-graph offload gate at its boundaries (pure function). */
class DriverGraphSpec extends AnyFunSuite {
  import DriverGraph.{MaxEdges, fits}

  test("fits admits MaxEdges edges and rejects one more") {
    assert(fits(MaxEdges, MaxEdges))
    assert(!fits(MaxEdges + 1, 1L))
    // the connected-components figures: n raw pairs and their 2·n endpoints
    assert(fits(MaxEdges, 2L * MaxEdges))
    assert(!fits(MaxEdges + 1, 2L * (MaxEdges + 1)))
  }

  test("fits rejects a node set past 2·MaxEdges even with one edge") {
    assert(fits(1L, 2L * MaxEdges))
    assert(!fits(1L, 2L * MaxEdges + 1))
  }

  test("fits never evaluates the node figure once the edge test fails") {
    assert(!fits(MaxEdges + 1, fail("node figure evaluated")))
  }
}
