package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The registry as a whole: every entry declared in the source tree is in
  * `Queries.all` exactly once, and a Verify run leaves no scratch dir
  * behind. */
class RegistrySpec extends AnyFunSuite {

  test("every DeclaredQuery in src/main is registered once in Queries.all") {
    val decl = """DeclaredQuery\("([^"]+)"""".r
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val declared = files.flatMap(f =>
      decl.findAllMatchIn(Files.readString(f)).map(_.group(1)))
    val registered = Queries.all.map(_.name)
    assert(declared.diff(declared.distinct).isEmpty, "declared twice")
    assert(registered.diff(registered.distinct).isEmpty, "registered twice")
    assert(declared.toSet -- registered == Set.empty, "declared, not registered")
    assert(registered.toSet -- declared == Set.empty, "registered, not declared")
    assert(registered.size == 296)
  }

  test("Verify deletes every scratch dir its entries made when the JVM exits") {
    val tmp = graft.sources.Scratch.dir("registry-spec")
    val out = tmp.resolve("out")
    val names = Seq("x101_streaming_enrich", "x24_jsonl_roundtrip")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val args = Seq(javaBin, "-Xmx1g") ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("--add-opens")) ++
      Seq("-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.Verify", TestSpark.sf0001, out.toString) ++ names
    val pb = new ProcessBuilder(args: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val p = pb.start()
    val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(p.waitFor() == 0, tail)
    names.foreach(n => assert(Files.isDirectory(out.resolve(n)), s"$n: no dump\n$tail"))
    val left = Files.list(tmp).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-")).toSeq
    assert(left.isEmpty, s"scratch dirs left behind: $left")
  }
}
