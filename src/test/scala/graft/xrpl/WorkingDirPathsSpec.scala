package graft.xrpl

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.XrplOps
import graft.xrpl.topology.{Gateways, Topology}

/** Fixtures are read from, and the Verify dump is written to, the
  * checkout the JVM runs in — never another checkout's copy. */
class WorkingDirPathsSpec extends AnyFunSuite {

  private val cwd = new java.io.File(sys.props("user.dir")).getAbsolutePath

  test("fixture and dump paths resolve under the working directory") {
    Seq(XrplTables.fixturesPath, Gateways.fixture("gateways.json"),
      Topology.networkFixture("manifests.json"), XrplOps.DumpDir).foreach { p =>
      assert(p.startsWith(cwd + java.io.File.separator), p)
    }
    assert(XrplOps.DumpDir === s"$cwd/target/graft_xrpl")
  }
}
