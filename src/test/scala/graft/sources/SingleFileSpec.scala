package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraftTimeoutException, TimeoutGuard}

/** E1's single-file export publishes atomically: the target path holds
  * either its previous bytes or the whole new export, and no temp file is
  * left beside it either way — also when a [[TimeoutGuard]] deadline stops
  * the concat. */
class SingleFileSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def target() = {
    val dir = graft.sources.Scratch.dir("single-file")
    val t = dir.resolve("out.csv")
    Files.write(t, "id\n1\n2\n".getBytes(UTF_8))
    t
  }

  test("a concat that fails after the first part leaves the previous export intact") {
    val t = target()
    val before = Files.readAllBytes(t)
    intercept[java.io.IOException] {
      SingleFile.write(spark.range(2).toDF("id"), t.toString, header = None,
        (_, tmp) => {
          Files.write(Paths.get(tmp, "part-00000"), "3\n4\n".getBytes(UTF_8))
          // a directory where a part file belongs: copying it throws
          Files.createDirectory(Paths.get(tmp, "part-00001"))
        })
    }
    assert(Files.readAllBytes(t).sameElements(before))
    assert(t.getParent.toFile.list().toSeq == Seq("out.csv"))
  }

  test("a successful write replaces the previous export and leaves no temp") {
    val t = target()
    val rows = SingleFile.write(spark.range(3).toDF("id"), t.toString,
      header = Some("id\n".getBytes(UTF_8)),
      (df, tmp) => Files.write(Paths.get(tmp, "part-00000"),
        df.collect().map(r => s"${r.getLong(0)}\n").mkString.getBytes(UTF_8)))
    assert(rows == 3)
    assert(Files.readString(t) == "id\n0\n1\n2\n")
    assert(t.getParent.toFile.list().toSeq == Seq("out.csv"))
  }

  // each body below collects the observed frame first, as a writer's job
  // would, so a concat that completes finds its row count

  /** Writes `parts` one-line part files into `tmp`, as a writer's tasks would. */
  private def writeParts(tmp: String, parts: Int): Unit =
    (0 until parts).foreach(i =>
      Files.write(Paths.get(tmp, f"part-$i%05d"), s"$i\n".getBytes(UTF_8)))

  private def assertUntouched(t: java.nio.file.Path, before: Array[Byte]): Unit = {
    assert(Files.readAllBytes(t).sameElements(before))
    assert(t.getParent.toFile.list().toSeq == Seq("out.csv"),
      "no .graft-single-* temp dir may be left beside the target")
  }

  test("a deadline that fires during the body stops the concat before its first part") {
    val t = target()
    val before = Files.readAllBytes(t)
    intercept[GraftTimeoutException] {
      TimeoutGuard.runMillis(spark, 1000, reportedMinutes = 7) {
        SingleFile.write(spark.range(2).toDF("id"), t.toString, header = None,
          (df, tmp) => { df.collect(); writeParts(tmp, 50); Thread.sleep(1500) })
      }
    }
    assertUntouched(t, before)
  }

  test("a deadline that fires mid-concat over many parts raises GraftTimeoutException") {
    val t = target()
    val before = Files.readAllBytes(t)
    var feeder: Thread = null
    val e = intercept[GraftTimeoutException] {
      TimeoutGuard.runMillis(spark, 1000, reportedMinutes = 7) {
        SingleFile.write(spark.range(2).toDF("id"), t.toString, header = None,
          (df, tmp) => {
            df.collect()
            writeParts(tmp, 200)
            // part 100 is a pipe fed one chunk every 20 ms for up to 10 s, so
            // the deadline passes while the concat is copying it
            val pipe = Paths.get(tmp, "part-00100")
            Files.delete(pipe)
            assert(new ProcessBuilder("mkfifo", pipe.toString).start().waitFor() == 0)
            feeder = new Thread(() => try {
              val out = new java.io.FileOutputStream(pipe.toFile)
              try (0 until 500).foreach { _ =>
                out.write(Array.fill[Byte](4096)('x')); out.flush(); Thread.sleep(20)
              } finally out.close()
            } catch { case _: java.io.IOException => () }) // reader gone
            feeder.setDaemon(true)
            feeder.start()
          })
      }
    }
    assert(e.getMessage.contains("7 minutes"), e.getMessage)
    feeder.join(5000)
    assert(!feeder.isAlive, "the concat must stop reading the pipe at the deadline")
    assertUntouched(t, before)
  }
}
