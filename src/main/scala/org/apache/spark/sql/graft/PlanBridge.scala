package org.apache.spark.sql.graft

import scala.collection.immutable.HashSet
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.{NarrowDependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader

/** Bridge to `Dataset.ofRows` (private[sql]): build a DataFrame from an
  * already-resolved logical plan. Used to reuse a RESOLVED scan relation
  * across queries without re-running datasource resolution (file listing +
  * relation construction) on every call — the measured ~10 ms/analysis
  * `ResolveDataSource` tail the bench pays on each of 200+ queries × reps.
  *
  * [[prepare]] plans a scan once for re-running on chosen partitions
  * ([[PreparedScan]]), the serving form of the indexed vector searches.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `c IN values` as one `InSet` node over internal values (Long for a
    * LONG column, Int for an INT one) — what the optimizer turns a long
    * `isin` into, without a literal child per value to analyze and
    * optimize first.
    */
  def inSet(c: Column, values: Iterable[Any]): Column =
    // a concrete HashSet, as OptimizeIn builds it: codegen casts the set to
    // its runtime class, which a map's key-set view does not keep in a task
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), HashSet.from(values)))

  /** `df` (a file scan under narrow operators only) planned and executed
    * once: its RDD is built inside a SQL execution of its own
    * `QueryExecution`, so a broadcast the plan holds is built here, once.
    * The execution has no name, so query-execution listeners are not told
    * of it.
    */
  def prepare(df: DataFrame): PreparedScan = {
    val qe = df.queryExecution
    new PreparedScan(qe, SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute()))
  }

  /** A DataFrame over a FRESH instance of a resolved leaf relation — fresh
    * expression ids and fresh plan-node lazy state per call, exactly what a
    * fresh `spark.read` would produce, while reusing the resolved relation's
    * expensive innards (file index, schema, options). None when the plan
    * isn't a multi-instance leaf, OR when the session isn't the classic
    * implementation `ofRows` requires — [[graft.Readers.sessionKey]]
    * tolerates non-classic sessions, so this path must degrade to the
    * caller's real-read fallback for them instead of throwing a
    * ClassCastException out of the Option contract.
    */
  def freshRows(spark: SparkSession, plan: LogicalPlan): Option[DataFrame] =
    (spark, plan) match {
      case (s: org.apache.spark.sql.classic.SparkSession,
            m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation)
          if plan.children.isEmpty =>
        Some(org.apache.spark.sql.classic.Dataset.ofRows(s, m.newInstance()))
      case _ => None
    }
}

/** A file scan planned once and re-run by every search that reads it: one
  * Catalyst analysis, optimization and physical planning, one file-split
  * planning and one Hadoop-conf broadcast for all of them. Each [[run]] is
  * a SQL execution of the same `QueryExecution` (listeners see its executed
  * plan, whose SQL metrics accumulate over the runs) whose one job reads
  * only the given file partitions; what a search asks of the rows rides the
  * task closure, not the plan.
  */
final class PreparedScan private[graft] (qe: QueryExecution, rdd: RDD[InternalRow]) {

  /** The scan's file partitions, by partition index: the file scan under
    * the plan's narrow chain, whose partitions its top RDD computes one to
    * one.
    */
  val partitions: IndexedSeq[FilePartition] = {
    def scanOf(r: RDD[_]): FileScanRDD = r match {
      case f: FileScanRDD => f
      case _ => r.dependencies match {
        case Seq(d: OneToOneDependency[_]) => scanOf(d.rdd)
        case _ => throw new IllegalStateException(
          s"not a file scan under narrow operators:\n${qe.executedPlan}")
      }
    }
    scanOf(rdd).filePartitions.toIndexedSeq
  }

  /** Min and max of the LONG column `column` per partition, from the
    * parquet footers of the row groups each split reads (assigned as the
    * reader assigns them); an empty partition gets an empty range (min >
    * max), a row group without statistics the full one.
    */
  def longRanges(column: String): IndexedSeq[(Long, Long)] = {
    val conf = qe.sparkSession.sessionState.newHadoopConf()
    partitions.map(_.files.foldLeft((Long.MaxValue, Long.MinValue)) { case (acc, file) =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file.toPath, conf),
        ParquetFooterReader.buildFilter(conf, file, /* skipRowGroup = */ false))
      footer.getBlocks.asScala.foldLeft(acc) { case ((lo, hi), block) =>
        block.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics) match {
          case Some(s: LongStatistics) if s.hasNonNullValue => (lo min s.getMin, hi max s.getMax)
          case Some(s) if !s.isEmpty && s.getNumNulls == block.getRowCount => (lo, hi) // all null
          case _ => (Long.MinValue, Long.MaxValue)
        }
      }
    })
  }

  /** One job over `parts` (file partitions of this scan, possibly holding
    * fewer files than the scan's own), under a SQL execution of the
    * prepared plan and the job description `description`; the caller's
    * description is restored afterwards, its job group never touched. No
    * parts, no job.
    */
  def run[U: ClassTag](description: String, parts: Seq[FilePartition])(
      f: Iterator[InternalRow] => U): Seq[U] =
    if (parts.isEmpty) Nil
    else {
      val sc = qe.sparkSession.sparkContext
      val caller = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
      sc.setJobDescription(description)
      try SQLExecution.withNewExecutionId(qe, Some("collect")) {
        sc.runJob(new FilesOf(rdd, parts.toArray), f).toSeq
      } finally sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, caller)
    }
}

/** `prev` computed over the given file partitions: partition i runs
  * `parts(i)` through `prev`'s own narrow chain, which hands the partition
  * object down to the file scan that reads its files.
  */
private final class FilesOf(prev: RDD[InternalRow], @transient parts: Array[FilePartition])
    extends RDD[InternalRow](prev.sparkContext, Seq(new PartsOf(prev, parts.map(_.index)))) {
  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](parts.length)(i => new FilesPartition(i, parts(i)))
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    prev.iterator(split.asInstanceOf[FilesPartition].files, context)
}

private final class FilesPartition(val index: Int, val files: FilePartition) extends Partition

private final class PartsOf(prev: RDD[InternalRow], parents: Array[Int])
    extends NarrowDependency[InternalRow](prev) {
  override def getParents(partitionId: Int): Seq[Int] = Seq(parents(partitionId))
}
