package graft

import graft.streaming.Scratch
import org.scalatest.funsuite.AnyFunSuite

/** The query scratch roots keep the exact path shapes the catalog gates
  * have always used: per-PID and per-sfDir for catalog roots (the catalog
  * is single-writer), a fresh UUID for one-shot stream roots, both under
  * the current `java.io.tmpdir`.
  */
class ScratchSpec extends AnyFunSuite {
  private def tmp = System.getProperty("java.io.tmpdir")
  private val pid = ProcessHandle.current().pid()

  test("sfRoot is tmpdir/graft_<tag>_<pid>_<sfDir, [^A-Za-z0-9.] as _>") {
    assert(Scratch.sfRoot("prune", "/root/testdata/sf0.01") ==
      s"$tmp/graft_prune_${pid}__root_testdata_sf0.01")
    assert(Scratch.sfRoot("vac", "data/sf-1 x") ==
      s"$tmp/graft_vac_${pid}_data_sf_1_x")
  }

  test("freshRoot is tmpdir/graft_<tag>_<32 hex>, new on every call") {
    val a = Scratch.freshRoot("mstream")
    assert(a.matches(java.util.regex.Pattern.quote(s"$tmp/graft_mstream_") +
      "[0-9a-f]{32}"))
    assert(a != Scratch.freshRoot("mstream"))
  }
}
