package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.connect.{ConfigException, EnvVariables, OffsetStore}

/** Port of the reference state-file robustness matrix
  * (TestFusekiOffsetStore.java:33-425) plus TestEnvVariables.
  */
class OffsetStoreSpec extends AnyFunSuite {

  private def tmp(): Path = Harness.scratchDir("osspec")
  private def mk(dir: Path, ds: String = "/ds", group: String = "G1") =
    new OffsetStore(ds, dir.resolve("state.json"), group)

  test("save, flush, reload round-trip") {
    val dir = tmp()
    val os = mk(dir)
    os.saveOffset("topic", 0, 42L)
    os.flush()
    val os2 = mk(dir)
    assert(os2.loadOffset("topic", 0).contains(42L))
  }

  test("defensive write: temp is gone, backup removed after atomic move") {
    val dir = tmp()
    val os = mk(dir)
    os.saveOffset("t", 0, 1L); os.flush()
    os.saveOffset("t", 0, 2L); os.flush()
    assert(Files.exists(dir.resolve("state.json")))
    assert(!Files.exists(dir.resolve("state.json.temp")))
    assert(!Files.exists(dir.resolve("state.json.backup")))
    assert(mk(dir).loadOffset("t", 0).contains(2L))
  }

  test("legacy 1.x state migrates with the off-by-one fix (ref :224-255)") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"),
      """{"endpoint": "http://example/ds", "topic": "RDF", "offset": 41}""")
    val os = mk(dir)
    // legacy stored actual-1; migrated value is actual
    assert(os.loadOffset("RDF", 0).contains(42L))
  }

  test("corrupt main file moved to .discarded, fresh state (ref :112-216)") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"), "this is { not json")
    val os = mk(dir)
    assert(os.allOffsets.isEmpty)
    assert(Files.exists(dir.resolve("state.json.discarded")))
    assert(!Files.exists(dir.resolve("state.json")))
  }

  test("corrupt main file recovers from .backup") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"), "garbage")
    Files.writeString(dir.resolve("state.json.backup"),
      """{"dataset": "/ds", "offsets": {"t-0-G1": 7}}""")
    val os = mk(dir)
    assert(os.loadOffset("t", 0).contains(7L))
  }

  test("missing main file recovers from orphaned .temp") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json.temp"),
      """{"dataset": "/ds", "offsets": {"t-0-G1": 9}}""")
    val os = mk(dir)
    assert(os.loadOffset("t", 0).contains(9L))
  }

  test("oversized state file is treated as corrupt") {
    val dir = tmp()
    val big = "{\"dataset\": \"/ds\", \"offsets\": {\"pad\": 0}, \"x\": \"" +
      "a" * (5 * 1024 * 1024 + 100) + "\"}"
    Files.writeString(dir.resolve("state.json"), big)
    val os = mk(dir)
    assert(os.allOffsets.isEmpty)
    assert(Files.exists(dir.resolve("state.json.discarded")))
  }

  test("dataset-name mismatch fails fast WITHOUT discarding the file (ref :170-177)") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"),
      """{"dataset": "/other", "offsets": {"t-0-G1": 5}}""")
    intercept[ConfigException] { mk(dir, ds = "/ds") }
    assert(Files.exists(dir.resolve("state.json"))) // NOT moved aside
  }

  test("legacy trailing path segments tolerated via prefix match") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"),
      """{"dataset": "/ds/service", "offsets": {"t-0-G1": 5}}""")
    assert(mk(dir, ds = "/ds").loadOffset("t", 0).contains(5L))
  }

  test("unrecognized-but-valid JSON shape fails fast") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"), """{"surprise": true}""")
    intercept[ConfigException] { mk(dir) }
  }

  test("copyTo snapshots; the live file is refused (ref :400-405)") {
    val dir = tmp()
    val os = mk(dir)
    os.saveOffset("t", 0, 3L)
    val target = dir.resolve("backup-copy.json")
    os.copyTo(target)
    assert(Files.readString(target).contains("\"t-0-G1\" : 3"))
    intercept[ConfigException] { os.copyTo(dir.resolve("state.json")) }
  }

  test("maxOffsetsByPartition takes the max across consumer groups (FKS.java:456-475)") {
    val dir = tmp()
    Files.writeString(dir.resolve("state.json"),
      """{"dataset": "/ds", "offsets": {"t-0-G1": 5, "t-0-G2": 9, "t-1-G1": 2}}""")
    val os = mk(dir)
    assert(os.maxOffsetsByPartition == Map(("t", 0) -> 9L, ("t", 1) -> 2L))
  }

  test("EnvVariables: braced, default, bare, unset, sys-prop precedence") {
    sys.props("GRAFT_OS_TEST") = "propval"
    try {
      assert(EnvVariables.resolve("env:{GRAFT_OS_TEST}", "f") == "propval")
      assert(EnvVariables.resolve("env:GRAFT_OS_TEST", "f") == "propval")
      assert(EnvVariables.resolve("env:{GRAFT_OS_UNSET:dflt}", "f") == "dflt")
      assert(EnvVariables.resolve("plain", "f") == "plain")
      assert(EnvVariables.resolve(null, "f") == null)
      intercept[ConfigException] { EnvVariables.resolve("env:{GRAFT_OS_UNSET}", "f") }
      intercept[ConfigException] { EnvVariables.resolve("env:GRAFT_OS_UNSET", "f") }
    } finally sys.props.remove("GRAFT_OS_TEST")
  }
}
