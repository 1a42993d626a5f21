package graft.core

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The signature-gated build over a small synthetic store — pure
  * filesystem, no Spark: one base and one delta, each a single staged
  * text file. The index specs drive the same store end-to-end; these
  * pin the reuse-or-rebuild rule every prewarm site relies on. */
class CommittedStoreSpec extends AnyFunSuite {

  private def staged(staging: Path, content: String): Unit = {
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("data.txt"), content)
  }

  private def addDelta(root: Path): Unit =
    CommittedStore.publishDelta(root, epoch = None)(staged(_, "delta"))

  /** A gated build of one base + one delta; returns how often the build
    * body ran across the call. */
  private def build(root: Path, sig: Long): Int = {
    var runs = 0
    CommittedStore.gatedBuild(root, sig, deltas = 1, layoutCurrent = true) {
      runs += 1
      CommittedStore.publishBase(root, carryEpochs = false)(staged(_, "base"))
      addDelta(root)
    }
    runs
  }

  private def sigFile(root: Path): Path = root.resolve("_GRAFT_SIG")

  test("a current store is reused: the build body does not run") {
    val root = Files.createTempDirectory("gated").resolve("store")
    assert(build(root, sig = 7L) == 1)
    assert(Files.readString(sigFile(root)) == "7")
    assert(build(root, sig = 7L) == 0)
    assert(CommittedStore.currentBaseDir(root).get.getFileName.toString == "base-1")
  }

  test("a changed signature rebuilds the store") {
    val root = Files.createTempDirectory("gated").resolve("store")
    assert(build(root, sig = 7L) == 1)
    assert(build(root, sig = 8L) == 1)
    assert(Files.readString(sigFile(root)) == "8")
    assert(CommittedStore.currentBaseDir(root).get.getFileName.toString == "base-2")
    assert(CommittedStore.committedDeltaCount(root) == 1)
  }

  test("a wrong delta count rebuilds the store") {
    val root = Files.createTempDirectory("gated").resolve("store")
    assert(build(root, sig = 7L) == 1)
    addDelta(root) // an uncompacted maintenance batch on top of the build
    assert(CommittedStore.committedDeltaCount(root) == 2)
    assert(build(root, sig = 7L) == 1)
    assert(CommittedStore.committedDeltaCount(root) == 1)
  }

  test("a throwing build leaves no signature, so the next call rebuilds") {
    val root = Files.createTempDirectory("gated").resolve("store")
    assert(build(root, sig = 7L) == 1)
    val err = intercept[IllegalStateException] {
      CommittedStore.gatedBuild(root, 9L, 1, layoutCurrent = true) {
        CommittedStore.publishBase(root, carryEpochs = false)(staged(_, "half"))
        throw new IllegalStateException("build failed mid-way")
      }
    }
    assert(err.getMessage == "build failed mid-way")
    assert(!Files.exists(sigFile(root)), "a failed build must not leave a signature")
    // the old signature is gone too, so even the previous corpus rebuilds
    assert(build(root, sig = 7L) == 1)
    assert(build(root, sig = 7L) == 0)
  }
}
