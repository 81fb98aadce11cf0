package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class LocalFilesSpec extends AnyFunSuite {
  test("deleteTree removes a nested tree and ignores a missing root") {
    val root = Files.createTempDirectory("graft-tree")
    Files.createDirectories(root.resolve("a/b"))
    Files.write(root.resolve("a/b/f.txt"), Array[Byte](1, 2))
    Files.write(root.resolve("g.txt"), Array[Byte](3))
    LocalFiles.deleteTree(root)
    assert(!Files.exists(root))
    LocalFiles.deleteTree(root) // already gone: best-effort, no throw
  }
}
