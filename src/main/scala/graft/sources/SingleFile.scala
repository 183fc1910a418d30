package graft.sources

import java.io.{BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.operators.TimeoutGuard

/** Shared exact-path single-file export machinery (used by
  * [[PgCsv.writeSingleFile]] and [[JsonL.writeSingleFile]]): the COMPUTE
  * stays fully distributed — `writeBody` writes part files in parallel into
  * a temp dir beside the target — and only the final byte-level
  * concatenation is serial (pure sequential I/O, no decompression: gzip
  * members concatenate into a valid gzip stream, newline-terminated text
  * parts concatenate into valid lines). Row count comes from an
  * `Observation` on the same pass — no second job. Strictly stronger than
  * `coalesce(1)`, which would serialize the computation itself.
  *
  * Invariants held HERE so the formats can't drift: `.crc` sidecars are
  * excluded, parts concatenate in lexicographic name order (Spark part
  * numbering is zero-padded, so this is task order), and the temp dir is
  * removed even on failure. The concat checks the enclosing
  * [[TimeoutGuard]]'s deadline before every part and every chunk it copies,
  * so E1's timeout covers it too. The concat goes to a file inside the temp dir
  * (same filesystem as the target) and is published with one atomic
  * rename, so the target holds either its previous bytes or the whole new
  * export — never a truncated one. */
private[sources] object SingleFile {

  def write(df: DataFrame, targetPath: String,
            header: Option[Array[Byte]],
            writeBody: (DataFrame, String) => Unit): Long = {
    val obs = Observation()
    val counted = df.observe(obs, count(lit(1)).as("rows"))
    val tmpDir = Files.createTempDirectory(
      Paths.get(targetPath).toAbsolutePath.getParent, ".graft-single-")
    try {
      writeBody(counted, tmpDir.toString)
      val parts = tmpDir.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .sortBy(_.getName)
      val staged = tmpDir.resolve(".graft-single-out")
      val out = new BufferedOutputStream(new FileOutputStream(staged.toFile))
      try {
        header.foreach(out.write)
        val chunk = new Array[Byte](1 << 16)
        parts.foreach { p =>
          TimeoutGuard.checkDeadline()
          val in = new FileInputStream(p)
          try {
            var n = in.read(chunk)
            while (n >= 0) {
              TimeoutGuard.checkDeadline()
              out.write(chunk, 0, n)
              n = in.read(chunk)
            }
          } finally in.close()
        }
      } finally out.close()
      Files.move(staged, Paths.get(targetPath),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      obs.get("rows").asInstanceOf[Long]
    } finally {
      tmpDir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(tmpDir)
    }
  }
}
