package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{SparkEntry, Tables}

/** `surface`: a fixed cross-section of `SparkEntry.queries`, one pass per
  * unit in a seeded order. Each query is built fresh (the public default),
  * materialized with the `noop` sink, and followed by a pin release.
  */
final class Surface(spark: SparkSession, rec: Recorder, work: String, seed: Long,
    fixtures: String, expected: Map[String, (Long, BigDecimal)]) extends Workload {

  private val order = new scala.util.Random(seed).shuffle(Surface.Queries)
  private val queries = SparkEntry.queries
  private var data: String = _

  def generate(): Unit = ()

  /** Lays the tables out from a private copy of the fixtures: the engine
    * keys its layouts by source path, so each repetition lays out anew.
    */
  def setupOnce(rep: Int): Unit = {
    val dir = new File(work, s"data-$rep")
    dir.mkdirs()
    Tables.names.foreach { t =>
      Files.copy(new File(fixtures, s"$t.parquet").toPath, new File(dir, s"$t.parquet").toPath,
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    data = dir.getAbsolutePath
    rec.span("layout")(Tables.names.foreach(t => Tables.load(spark, data, t).count()))
  }

  /** The first pass builds the stores the queries read and compiles their
    * code; it is also where every query's rows are checked.
    */
  override def warm(): Seq[Op] = order.map { name =>
    val res = Ops.timed(rec, name)(queries(name)(spark, data))(noop)
    val ok = res.value.isDefined && (expected.get(name) match {
      case Some(want) => Surface.digest(queries(name)(spark, data)) == want
      case None => false
    })
    graft.operators.Materialize.releaseAll()
    Op(res.seconds, ok, res.release)
  }

  def unit(): Seq[Op] = order.map { name =>
    val res = Ops.timed(rec, name)(queries(name)(spark, data))(noop)
    Op(res.seconds, res.value.isDefined, res.release)
  }

  def opsPerWork: Int = order.size

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Surface {
  /** Queries of seven operator families whose set-up fits a short run:
    * aggregation, a join with a window top-n, event-time session windows,
    * lag windows, percentiles, containment near-dups over a pinned token
    * table, and MinHash near-dup mining.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q09_top_orders_per_customer", "q42_session_windows",
    "q44_lag_deltas", "q54_percentiles", "q98_containment_neardups", "q34_minhash_neardups")

  /** Row count and an order-independent digest: the sum of per-row 64-bit
    * hashes, exact in decimal. Map columns hash through their JSON form.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
