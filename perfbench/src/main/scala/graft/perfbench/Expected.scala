package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Expected `surface` outputs: one line per query, `name rows digest`. */
object Expected {
  def read(f: File): Map[String, (Long, BigDecimal)] =
    new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, digest) = l.split("\\s+")
        name -> (rows.toLong, BigDecimal(digest))
      }.toMap
}
