package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Hand-built inputs for the fused top-k equivalence pins: every edge
  * the kernel must rank exactly as the window form does. */
object TopKEdgeCases {
  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** Duplicate vectors (sim ties broken by id), a zero vector, a NULL
    * vector, a NULL id, and ids the queries share (self-pairs) — spread
    * over 10 partitions, so several are empty. */
  def corpus(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(3L, Seq(1f, 0f, 0f)), Row(1L, Seq(1f, 0f, 0f)), Row(2L, Seq(1f, 0f, 0f)),
      Row(4L, Seq(0f, 0f, 0f)),
      Row(5L, null),
      Row(6L, Seq(0.5f, 0.5f, 0f)), Row(7L, Seq(-1f, 0.25f, 2f)), Row(8L, Seq(0f, 1f, 0.5f)),
      Row(null, Seq(1f, 0f, 0f))), numSlices = 10), schema)

  /** A self-pair query, a zero query, a NULL-vector query and a query
    * id that appears twice with different vectors. */
  def queries(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1f, 0f, 0f)), Row(4L, Seq(0f, 0f, 0f)), Row(9L, null),
      Row(6L, Seq(0.5f, 0.5f, 0f)), Row(6L, Seq(-1f, 0.25f, 2f))), numSlices = 2), schema)

  /** Quantizer for the IVF pins: four lists over the three axes. */
  val cents: Array[Array[Double]] =
    Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0), Array(-1.0, 0.0, 0.0))

  /** (query_id, rank, nbr_id, sim) in rank order. */
  def full(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("query_id", "rank", "nbr_id", "sim").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** The window form minus its NULL-sim rows: the buffers drop NULL
    * vectors, which the nulls-last window ranks after every real sim. */
  def windowAnswer(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    full(df.where(col("sim").isNotNull))

  def emptyPartitions(df: DataFrame): Int =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0)
}

/** Shuffle-write bytes, task count and the physical plan of every SQL
  * execution seen while registered. */
class GuardListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  @volatile var shuffleWrite = 0L
  @volatile var tasks = 0
  @volatile var plans = Vector.empty[String]
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskMetrics != null) shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { plans :+= s.physicalPlanDescription }
    case _ => ()
  }
}

object GuardListener {
  /** Runs `body` under a fresh listener; its totals are complete on return. */
  def watch[T](spark: SparkSession)(body: => T): (GuardListener, T) = {
    val sc = spark.sparkContext
    val seen = new GuardListener
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(seen)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (seen, r)
    } finally sc.removeSparkListener(seen)
  }
}
