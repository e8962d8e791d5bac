package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Records the expected `surface` outputs of the current engine:
  *
  *   Record --fixtures DIR --work DIR --out FILE
  *
  * Run it on the commit whose outputs are the reference; the benchmark then
  * checks every later commit against the file.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val spark = Main.session(a("work"), math.min(4, Runtime.getRuntime.availableProcessors))
    val lines = Surface.Queries.sorted.map { name =>
      val (rows, digest) = Surface.digest(graft.SparkEntry.queries(name)(spark, a("fixtures")))
      graft.operators.Materialize.releaseAll()
      s"$name $rows $digest"
    }
    Files.write(new File(a("out")).toPath,
      (s"# query rows digest, recorded over ${new File(a("fixtures")).getName}\n" +
        lines.mkString("", "\n", "\n")).getBytes(UTF_8))
    spark.stop()
  }
}
