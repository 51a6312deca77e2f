package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TempDirs

/** Query temp directories: created under the system temp dir, and
  * removed whole, non-empty subdirectories included.
  */
class TempDirsSpec extends AnyFunSuite {

  test("deleteRecursively removes a non-empty tree; a missing root is a no-op") {
    val root = Files.createTempDirectory("tempdirs-spec")
    Files.writeString(root.resolve("log.xes"), "<log/>")
    val sub = Files.createDirectories(root.resolve("idx/members"))
    Files.writeString(sub.resolve("part-0.parquet"), "x")
    TempDirs.deleteRecursively(root)
    assert(!Files.exists(root))
    TempDirs.deleteRecursively(root)
  }

  test("create gives a new, empty directory under the system temp dir") {
    val a = TempDirs.create("tempdirs-spec")
    val b = TempDirs.create("tempdirs-spec")
    try {
      assert(a != b)
      for (d <- Seq(a, b)) {
        assert(Files.isDirectory(d) && d.getFileName.toString.startsWith("tempdirs-spec"))
        assert(d.getParent == java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath)
        val entries = Files.list(d)
        try assert(entries.count() == 0) finally entries.close()
      }
    } finally Seq(a, b).foreach(TempDirs.deleteRecursively)
  }
}
