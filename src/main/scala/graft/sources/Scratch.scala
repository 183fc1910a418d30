package graft.sources

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch dirs for the registry's entries and smokes (staged replay
  * inputs, checkpoints, sink dirs, round-trip copies, on-disk indexes),
  * [[PgCsv]]'s codec-extension links, and the test suite's temp dirs and
  * warehouse. Every dir is deleted recursively by ONE JVM-exit hook — for
  * the specs, when the forked test JVM exits; a symlink is deleted, never
  * followed. Deletion waits for exit because an entry returns a lazy
  * frame that still reads its dir when the caller collects or writes it. */
object Scratch {

  private val dirs = new ConcurrentLinkedQueue[Path]()

  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(p => rm(p.toFile))))

  private def rm(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** A fresh dir under `java.io.tmpdir`, named `<prefix><random>`. */
  def dir(prefix: String): Path = {
    exitHook
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }
}
