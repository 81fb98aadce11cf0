package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CommitSpec extends AnyFunSuite {
  private val raw = FileSystem.getLocal(new Configuration()).getRawFileSystem

  /** Local FS that dies at its `crashAt`-th rename or delete, as a process
    * killed at that boundary of the swap would. */
  private final class CrashingFs(crashAt: Int) extends FilterFileSystem(raw) {
    private var ops = 0
    private def step(): Unit = {
      ops += 1
      if (ops == crashAt) throw new IllegalStateException(s"crash at step $crashAt")
    }
    override def rename(src: Path, dst: Path): Boolean = { step(); super.rename(src, dst) }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      step(); super.delete(p, recursive)
    }
  }

  private def layout(): (Path, Path, Path) = {
    val root = Files.createTempDirectory("graft-commit").toString
    (new Path(s"$root/t"), new Path(s"$root/t.__new__"), new Path(s"$root/t.__old__"))
  }
  private def put(dir: Path, text: String): Unit = {
    Files.createDirectories(Paths.get(dir.toString))
    Files.write(Paths.get(dir.toString).resolve("part"), text.getBytes(UTF_8))
  }
  private def text(dir: Path): String =
    new String(Files.readAllBytes(Paths.get(dir.toString).resolve("part")), UTF_8)

  test("replace creates or swaps in the new contents and leaves no staging or backup") {
    val (target, staging, backup) = layout()
    assert(Commit.replace(raw, target, staging, backup) { s => put(s, "v1"); 1 } === 1)
    assert(text(target) === "v1")
    Commit.replace(raw, target, staging, backup)(put(_, "v2"))
    assert(text(target) === "v2")
    assert(!raw.exists(staging) && !raw.exists(backup))
  }

  test("a failed write leaves the target untouched") {
    val (target, staging, backup) = layout()
    put(target, "old")
    intercept[RuntimeException] {
      Commit.replace(raw, target, staging, backup)(_ => throw new RuntimeException("write died"))
    }
    assert(text(target) === "old" && !raw.exists(backup))
  }

  test("a crash at every rename/delete boundary leaves the old or the new " +
      "contents, and recover settles them") {
    // steps: 1 target -> backup, 2 staging -> target, 3 delete backup
    val expected = Map(1 -> "old", 2 -> "old", 3 -> "new")
    expected.foreach { case (step, survivor) =>
      val (target, staging, backup) = layout()
      put(target, "old")
      intercept[IllegalStateException] {
        Commit.replace(new CrashingFs(step), target, staging, backup)(put(_, "new"))
      }
      assert(raw.exists(target) || raw.exists(backup), s"data gone after step $step")
      Commit.recover(raw, target, backup)
      assert(text(target) === survivor, s"step $step")
      assert(!raw.exists(backup), s"step $step")
    }
  }

  test("recover restores a lone backup and deletes a stale one") {
    val (target, _, backup) = layout()
    put(backup, "only copy")
    Commit.recover(raw, target, backup)
    assert(text(target) === "only copy" && !raw.exists(backup))
    put(backup, "stale")
    Commit.recover(raw, target, backup)
    assert(text(target) === "only copy" && !raw.exists(backup))
  }
}
