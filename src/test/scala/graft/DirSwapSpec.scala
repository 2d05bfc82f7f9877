package graft

import graft.sources.DirSwap
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class DirSwapSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  /** A fresh root holding `live` and its `live._old` backup paths. */
  private def layout(): (JPath, JPath) = {
    val root = Files.createTempDirectory("graft_dirswap")
    (root.resolve("live"), root.resolve("live._old"))
  }

  private def dirWith(dir: JPath, file: String): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(file), file.getBytes("UTF-8")); ()
  }

  private def hp(p: JPath) = new Path(p.toString)

  private def files(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet
    finally s.close()
  }

  test("heal: a backup without a live dir is rolled forward") {
    val (live, bak) = layout()
    dirWith(bak, "a")
    DirSwap.heal(local, hp(live))
    assert(files(live) === Set("a"))
    assert(!Files.exists(bak))
  }

  test("heal: a backup beside a live dir is dropped, live data wins") {
    val (live, bak) = layout()
    dirWith(live, "new")
    dirWith(bak, "old")
    DirSwap.heal(local, hp(live))
    assert(files(live) === Set("new"))
    assert(!Files.exists(bak))
  }

  test("heal: neither live nor backup is a no-op") {
    val (live, bak) = layout()
    DirSwap.heal(local, hp(live))
    assert(!Files.exists(live) && !Files.exists(bak))
    dirWith(live, "a")
    DirSwap.heal(local, hp(live))
    assert(files(live) === Set("a") && !Files.exists(bak))
  }

  test("replace: swaps fresh in over an existing live dir, no backup left") {
    val (live, bak) = layout()
    val fresh = live.resolveSibling("live._fresh")
    dirWith(live, "old")
    dirWith(fresh, "new")
    dirWith(bak, "stale") // left by an earlier crash: dropped first
    DirSwap.replace(local, hp(live), hp(fresh))
    assert(files(live) === Set("new"))
    assert(!Files.exists(fresh) && !Files.exists(bak))
  }

  test("replace: with no live dir yet, fresh simply becomes live") {
    val (live, bak) = layout()
    val fresh = live.resolveSibling("live._fresh")
    dirWith(fresh, "new")
    DirSwap.replace(local, hp(live), hp(fresh))
    assert(files(live) === Set("new"))
    assert(!Files.exists(fresh) && !Files.exists(bak))
  }

  test("heal tolerates a concurrent healer: a rename that reports false " +
      "after the backup was rolled forward is not an error") {
    val (live, bak) = layout()
    dirWith(bak, "a")
    // the other healer's rename lands first; ours then returns false
    val raced = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = {
        fs.rename(src, dst); false
      }
    }
    DirSwap.heal(raced, hp(live))
    assert(files(live) === Set("a"))
  }

  test("heal throws when the roll-forward fails and live is still missing") {
    val (live, bak) = layout()
    dirWith(bak, "a")
    val refusing = new FilterFileSystem(local) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val e = intercept[java.io.IOException](DirSwap.heal(refusing, hp(live)))
    assert(e.getMessage.contains("failed to heal"))
    assert(!Files.exists(live) && files(bak) === Set("a"))
  }
}
