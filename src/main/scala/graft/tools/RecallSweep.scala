package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{Knn, KnnExact, Pq}

/** Dev tool: sweep LSH (tables, bits, k1) and PQ (m, k, k1) and print
  * recall@10 vs exact kNN. Mirrors the reference's Glove benchmark
  * methodology (SURVEY.md §2.A A10).
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exact = KnnExact.topK(spark, sfDir, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpusN = graft.Tables.embeddings(spark, sfDir).count()
    for {
      tables <- Seq(8, 16, 32)
      bits <- Seq(2, 3, 4, 6, 8)
      k1 <- Seq(50, 100)
      if 2L * tables * bits <= corpusN // fit needs 2·T·B sample vectors
    } {
      val lsh = Knn.lshTopK(spark, sfDir, queryMaxId = 8, k1 = k1, k2 = 10,
          tables = tables, bits = bits)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & lsh).size.toDouble / exact.size
      println(f"RECALL tables=$tables%3d bits=$bits%2d k1=$k1%4d recall@10=$recall%.3f")
    }
    for {
      m <- Seq(4, 8, 16)
      k <- Seq(16, 64)
      k1 <- Seq(50, 100)
    } {
      val pq = Pq.ann(spark, Pq.PQ(m, k), sfDir, queryMaxId = 8, k1 = k1, k2 = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & pq).size.toDouble / exact.size
      val bytes = m // one code byte per subspace
      println(f"RECALL pq m=$m%2d k=$k%3d k1=$k1%4d bytes=$bytes%3d recall@10=$recall%.3f")
    }
    // SQ8: one point on the compression ladder (64 B/vector vs PQ's 4-16).
    for (k1 <- Seq(50, 100)) {
      val sq = Pq.ann(spark, Pq.SQ8, sfDir, queryMaxId = 8, k1 = k1, k2 = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & sq).size.toDouble / exact.size
      println(f"RECALL sq8 k1=$k1%4d bytes= 64 recall@10=$recall%.3f")
    }
    // BQ: the bottom rung (8 B/vector, xor+popcount distance) — what one
    // sign bit per dimension costs in k1 for a given recall.
    for (k1 <- Seq(50, 100, 200)) {
      val bq = Pq.ann(spark, Pq.BQ, sfDir, queryMaxId = 8, k1 = k1, k2 = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & bq).size.toDouble / exact.size
      println(f"RECALL bq k1=$k1%4d bytes=  8 recall@10=$recall%.3f")
    }
    // Filtered indexed search vs the exact FILTERED baseline (q118/q120
    // pair): the filter keeps ~30% of the corpus, so k1 covers a larger
    // fraction of the eligible population than the unfiltered rows above.
    locally {
      val exactF = KnnExact.topKFiltered(spark, sfDir, queryMaxId = 8, k = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (k1 <- Seq(50, 100)) {
        val got = Knn.lshTopKFilteredIndexed(spark, sfDir, queryMaxId = 8, k1 = k1, k2 = 10)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (exactF & got).size.toDouble / exactF.size
        println(f"RECALL filtered k1=$k1%4d recall@10=$recall%.3f")
      }
    }
    // Matryoshka truncation: prefix-dim cosine vs the FULL-dim cosine
    // ranking (same metric on both sides, unlike the L2 ladder above).
    val fullCos = KnnExact.topKCosine(spark, sfDir, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (dims <- Seq(8, 16, 32, 48)) {
      val t = KnnExact.topKCosineTrunc(spark, sfDir, dims = dims, queryMaxId = 8, k = 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (fullCos & t).size.toDouble / fullCos.size
      println(f"RECALL trunc dims=$dims%2d bytes=${4 * dims}%4d recall@10=$recall%.3f")
    }
    spark.stop()
  }
}
