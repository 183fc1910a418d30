package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** E1's single-file export publishes atomically: the target path holds
  * either its previous bytes or the whole new export, and no temp file is
  * left beside it either way. */
class SingleFileSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def target() = {
    val dir = Files.createTempDirectory("single-file")
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
}
