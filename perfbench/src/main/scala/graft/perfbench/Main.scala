package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        [--fixtures DIR] [--expected FILE] [--tiny]
  *
  * Writes the result object to `--out`. With `--trace 1` it also writes the
  * spans and per-layer record next to it. `perfbench/run.py` is the entry
  * point that builds, isolates and cleans up around this.
  */
object Main {

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tiny = args.contains("--tiny")
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    // Wall-clock marks of the run's phases, reported so its cost can be read.
    val marks = scala.collection.mutable.LinkedHashMap[String, Double]()
    val jvm0 = System.nanoTime()
    def mark(name: String): Unit = marks(name) = (System.nanoTime() - jvm0) / 1e9
    val probePre = graft.Bench.throttleProbe("pre", cores)

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    mark("session")
    val rec = new Recorder(spark)
    val w: Workload = workload match {
      case "knn-serve" => new KnnServe(spark, rec, work, seed, tiny)
      case "surface" =>
        new Surface(spark, rec, work, seed, a("fixtures"), Expected.read(new File(a("expected"))))
      case other => sys.error(s"unknown workload $other")
    }
    w.generate()
    mark("generate")

    rec.trace(traced)
    val setups = (0 until SetupReps).map { r =>
      val s = System.nanoTime()
      w.setupOnce(r)
      (System.nanoTime() - s) / 1e9
    }
    mark("setup")
    val warmOps = w.warm()
    mark("warm")
    val setupS = sessionS + Layers.median(setups) + warmOps.map(o => o.seconds + o.release).sum

    // Closed loop: a unit starts only while the time is not up. A traced run
    // alternates traced and untraced units, so it measures its own overhead.
    val units = ArrayBuffer[(Seq[Op], Boolean)]()
    val windows = ArrayBuffer[(Long, Long)]()
    var tracedPins = 0L
    var tracedRows = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (units.size < (if (traced) 2 else 1) || System.nanoTime() < deadline) {
      val on = traced && units.size % 2 == 0
      rec.trace(on)
      val (pins, rows0) = (graft.operators.Materialize.pinCount, w.rowsReturned)
      val from = rec.now()
      val ops = w.unit()
      if (on) {
        windows += ((from, rec.now()))
        tracedPins += graft.operators.Materialize.pinCount - pins
        tracedRows += w.rowsReturned - rows0
      }
      units += ((ops, on))
    }
    mark("loop")
    // The tail feeds only per-layer figures, so only traced runs pay for it.
    val tailOps = if (traced) { rec.trace(true); w.tail() } else Nil
    rec.trace(false)
    mark("tail")
    val probePost = graft.Bench.throttleProbe("post", cores)
    mark("probe")

    val timed = units.flatMap(_._1).toSeq
    val allOps = warmOps ++ timed ++ tailOps
    val failed = allOps.count(!_.ok)
    def wall(u: Seq[Op]) = u.map(o => o.seconds + o.release).sum
    // A recall collapse is a wrong answer even when every row is well formed.
    val recallOk = w.recall.forall(_ >= RecallFloor)
    val metrics: Seq[(String, Double)] =
      if (!traced) {
        val lat = timed.map(_.seconds)
        Seq(
          "setup_s" -> setupS,
          "wall_s" -> wall(timed) / timed.size * w.opsPerWork,
          "latency_p50_s" -> Layers.quantile(lat, 0.5),
          "latency_p90_s" -> Layers.quantile(lat, 0.9))
      } else {
        val walls = units.map { case (u, on) => (wall(u), on) }
        val overhead = Layers.median(walls.filter(_._2).map(_._1).toSeq) /
          Layers.median(walls.filterNot(_._2).map(_._1).toSeq)
        val figures = Map(
          "Index.postings_files_before_compact" -> 0.0,
          "Index.postings_files_after_compact" -> 0.0,
          "index_bytes_per_vector" -> 0.0,
          "recall_at_10" -> w.recall.getOrElse(0.0),
          "tracing_overhead" -> overhead,
          "peak_rss_mb" -> peakRssMb()) ++ w.layerFigures
        val layer = Layers.metrics(rec, windows.toSeq, cores,
          Layers.Counts(tracedPins, tracedRows, w.vectorsIngested), figures)
        layer.toSeq.sortBy(_._1)
      }

    val detail = ujson(Map(
      "workload" -> q(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "units" -> units.size.toString, "samples" -> timed.size.toString,
      "ops_per_work" -> w.opsPerWork.toString,
      "op_s" -> timed.map(o => fmt(o.seconds)).mkString("[", ",", "]"),
      "error_rate" -> fmt(failed.toDouble / math.max(allOps.size, 1)),
      "recall_at_10" -> fmt(w.recall.getOrElse(0.0)), "setup_reps_s" -> setups.map(fmt).mkString("[", ",", "]"),
      "session_s" -> fmt(sessionS),
      "marks_s" -> ujson(marks.toMap.map { case (k, v) => k -> fmt(v) }),
      "host_phase" -> ujson(Map(
        "pre" -> probeJson(probePre), "post" -> probeJson(probePost)))))
    println(s"""{"detail":$detail}""")

    val result = ujson(Map(
      "correct" -> (failed == 0 && recallOk).toString,
      "attempted" -> allOps.size.toString,
      "failed" -> failed.toString,
      "metrics" -> ujson(metrics.map { case (k, v) => k -> fmt(v) }.toMap)))
    if (traced) {
      // Self time: a span's duration minus the time its children cover
      // (children of one span run one after another).
      val childNs = rec.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
      val (matched, mismatched, ungrouped) = Layers.groupCheck(rec, windows.toSeq)
      val groups = ujson(Map("matched" -> matched.toString, "mismatched" -> mismatched.toString,
        "ungrouped" -> ungrouped.toString))
      val spans = rec.spans.map(s =>
        s"""{"id":${s.id},"op":${s.op},"name":${q(s.name)},"parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},"self_s":${fmt((s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9)}}""")
      Files.write(new File(a("out") + ".trace.json").toPath,
        s"""{"detail":$detail,"job_groups":$groups,"metrics":${ujson(metrics.map { case (k, v) => k -> fmt(v) }.toMap)},"spans":[${spans.mkString(",\n")}]}"""
          .getBytes(UTF_8))
    }
    Files.write(new File(a("out")).toPath, result.getBytes(UTF_8))
    spark.stop()
  }

  /** Mean recall@10 below which a kNN run counts as wrong: 0.03 under the
    * lowest run mean measured when the benchmark was defined (the figures
    * are in perfbench/README.md).
    */
  val RecallFloor = 0.93

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // The engine's canonical session settings, as the repository's Bench
      // sets them.
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JVM's resident-set high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  private def probeJson(p: (Double, Double, Double, Double)): String =
    ujson(Map("single_s" -> fmt(p._1), "multi_s" -> fmt(p._2), "mem_s" -> fmt(p._3), "io_s" -> fmt(p._4)))

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def ujson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
