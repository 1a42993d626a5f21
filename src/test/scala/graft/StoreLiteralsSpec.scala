package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: the committed-store file names are spelled in ONE
  * `src/main` file, [[graft.core.CommittedStore]], so no index, sidecar
  * or mirror grows a private copy of the store protocol again. Tests run
  * with cwd = the project root (forked JVM), the DocsCoverageSpec
  * convention. */
class StoreLiteralsSpec extends AnyFunSuite {

  private lazy val mainSources: Seq[Path] = {
    val ds = Files.walk(Paths.get("src", "main"))
    try ds.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".scala"))
    finally ds.close()
  }

  Seq("_GRAFT_COMMITTED", "_GRAFT_SIG", "_GRAFT_EPOCH").foreach { literal =>
    test(s"$literal appears in exactly one src/main file, the store module") {
      val hits = mainSources.filter(f => Files.readString(f).contains(literal))
      assert(hits == Seq(Paths.get("src", "main", "scala", "graft", "core",
        "CommittedStore.scala")), s"$literal spelled in: ${hits.mkString(", ")}")
    }
  }
}
