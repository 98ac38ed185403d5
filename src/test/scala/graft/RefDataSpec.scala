package graft

import graft.core.RefData
import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

class RefDataSpec extends AnyFunSuite {

  test("a missing reference input raises RefData.Missing naming the " +
      "input and its absolute path") {
    val in = RefData.Input("probe table", Paths.get("no-such-dir/probe.csv"))
    val e = intercept[RefData.Missing](in.existing)
    assert(e.input == "probe table")
    assert(e.absolutePath == in.path.toAbsolutePath.toString)
    assert(e.getMessage.contains("probe table") &&
      e.getMessage.contains(e.absolutePath), e.getMessage)
  }

  test("GRAFT_REF_ROOT overrides the reference root, and a missing " +
      "input's message names the variable") {
    val alt = Paths.get("elsewhere/reference")
    assert(RefData.rootFrom(Map(RefData.RootVar -> alt.toString)) == alt)
    assert(RefData.rootFrom(Map.empty) != alt)
    val e = intercept[RefData.Missing](
      RefData.Input("gaz", alt.resolve("utils/gaz.csv")).existing)
    assert(e.getMessage.contains("GRAFT_REF_ROOT"), e.getMessage)
  }
}
