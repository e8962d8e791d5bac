package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §7 risk list: "skewed hash buckets
  * in the A5 join at scale — salt or cap bucket size").
  *
  * Two-stage salted aggregation: a hot grouping key that would overload one
  * reducer is split across `salts` sub-keys (deterministic salt derived from
  * a secondary column, never `rand()` — gate outputs must be reproducible),
  * partially aggregated, then merged. Same result, bounded per-task state.
  *
  * Bucket capping for the LSH collision join: posting lists longer than
  * `cap` are truncated to their `cap` smallest ids — bounds the worst-case
  * join fan-out at a measured recall cost (the candidates dropped are from
  * degenerate buckets that carry little signal).
  */
object Skew {

  /** `spark.sql.shuffle.partitions`, the width [[spread]] pins to. Parsed
    * as Spark parses it; a malformed value fails naming the key and the
    * value.
    */
  def shufflePartitions(spark: SparkSession): Int =
    partitionCount(spark.conf.get(ShufflePartitions))

  /** Spread a CPU-bound stage over `spark.sql.shuffle.partitions` tasks:
    * `repartition(n, cols*)` (hash by `cols`, round-robin without), a
    * REPARTITION_BY_NUM exchange that AQE's partition coalescing leaves
    * alone. AQE sizes post-shuffle partitions by bytes, but the stages
    * this feeds (banding self-joins, unit-fanout verify) cost CPU on few
    * bytes, so coalescing would collapse them onto one task. The one
    * spread policy of the engine; the shuffle-partition setting is the one
    * width a deployment sizes.
    */
  def spread(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(shufflePartitions(df.sparkSession), cols: _*)

  val ShufflePartitions = "spark.sql.shuffle.partitions"

  private[graft] def partitionCount(raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$ShufflePartitions must be a positive integer, got '$raw'"))

  /** Deterministic salt in [0, salts) from a secondary column. */
  def saltOf(c: Column, salts: Int): Column = pmod(xxhash64(c), lit(salts.toLong))

  /** groupBy(key).count() in two salted stages — identical result, skew-proof. */
  def saltedCount(df: DataFrame, key: String, saltFrom: String, salts: Int): DataFrame =
    df.groupBy(col(key), saltOf(col(saltFrom), salts).as("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("n"))

  /** groupBy(key).agg(sum(valueCol)) in two salted stages. */
  def saltedSum(df: DataFrame, key: String, valueCol: String, saltFrom: String, salts: Int): DataFrame =
    df.groupBy(col(key), saltOf(col(saltFrom), salts).as("_salt"))
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("total"))

  /** Cap group size per key set: keep the `cap` smallest ids (deterministic).
    * The generic valve behind [[capBuckets]]; also bounds k-means cell size
    * for the SemDeDup pair stage once `Vectors.deriveK` saturates.
    */
  def capGroups(df: DataFrame, cap: Int, keys: Seq[String], idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Cap posting-list length per (tbl, hash) bucket. Used ahead of the LSH
    * pair-mining self-join when a bucket degenerates (e.g. all-zeros hash on
    * sparse data) and automatically once the derived hash width saturates
    * ([[graft.operators.Lsh.autoBucketCap]]). The indexed search caps inside
    * its one probe plan instead, by distinct id (`Knn.search`).
    */
  def capBuckets(posts: DataFrame, cap: Int, idCol: String = "vec_id"): DataFrame =
    capGroups(posts, cap, Seq("tbl", "hash"), idCol)
}
