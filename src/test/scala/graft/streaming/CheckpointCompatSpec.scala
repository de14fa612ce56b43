package graft.streaming

import java.nio.file.{Files, Path => NioPath}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.sources.Tables

/** A checkpoint written by one checkpoint file manager must carry on
  * under the other: Spark's default leaves `.crc` sidecars beside every
  * file, [[LocalCheckpointFileManager]] writes none, and a stream
  * restarted across the switch (either way) must answer exactly as a
  * run that never stopped. Covered for the HDFS-backed state store
  * (`hourlyCounts`) and for RocksDB (`transformWithState`, s68's
  * processor), whose uploads are atomic checkpoint writes too. */
class CheckpointCompatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private type Batches = SortedMap[Long, Seq[Row]]

  private val Default = classOf[FileContextBasedCheckpointFileManager].getName
  private val Local = classOf[LocalCheckpointFileManager].getName
  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The sf0.001 events as two time-ordered halves, one parquet file
    * each, ready to land in a watched directory. */
  private def stageHalves(s: SparkSession, root: NioPath): Seq[NioPath] = {
    val events = Tables.load(s, SparkTestSession.sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val cut = events.agg(percentile_approx(unix_micros(col("ts")), lit(0.5), lit(10000)))
      .head().getLong(0)
    Seq(unix_micros(col("ts")) <= cut, unix_micros(col("ts")) > cut).zipWithIndex.map {
      case (half, i) =>
        val out = root.resolve(s"staging$i")
        events.where(half).coalesce(1).write.parquet(out.toString)
        val l = Files.list(out)
        try l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
    }
  }

  /** One checkpointed `AvailableNow` run; each micro-batch's rows by
    * batch id (a batch run again after a restart replaces its rows). */
  private def run(df: DataFrame, mode: OutputMode, checkpoint: String): Batches = {
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Row]]()
    val q = df.writeStream.outputMode(mode)
      .foreachBatch { (b: DataFrame, id: Long) => batches.put(id, b.collect().toSeq); () }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    SortedMap.from(batches.asScala)
  }

  private def crcFiles(dir: NioPath): Int = {
    val w = Files.walk(dir)
    try w.iterator().asScala.count(_.getFileName.toString.endsWith(".crc")) finally w.close()
  }

  /** Runs `query` over the first half under one manager, lands the
    * second half and restarts under the other, both ways round; the
    * `answer` folded from both runs' rows must equal that of one run
    * over both halves. */
  private def checkSwitch(tag: String, mode: OutputMode, stateProvider: Option[String],
                          answer: Batches => Set[Row])
                         (query: (SparkSession, String) => DataFrame): Unit =
    withTempDir(s"ck-compat-$tag") { root =>
      val halves = stageHalves(spark, root)
      def session(manager: String) = {
        val s = spark.newSession()
        s.conf.set(LocalCheckpointFileManager.ConfKey, manager)
        stateProvider.foreach(s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
        s
      }
      def land(src: NioPath, i: Int) =
        Files.copy(halves(i), Files.createDirectories(src).resolve(s"half$i.parquet"))

      val refSrc = root.resolve("ref-src")
      land(refSrc, 0)
      land(refSrc, 1)
      val reference = answer(run(query(session(Local), refSrc.toString), mode,
        root.resolve("ref-ck").toString))
      assert(reference.nonEmpty)

      for ((first, second) <- Seq(Default -> Local, Local -> Default)) {
        val leg = if (first == Default) "default_first" else "local_first"
        val src = root.resolve(s"$leg-src")
        val ck = root.resolve(s"$leg-ck")
        land(src, 0)
        val before = run(query(session(first), src.toString), mode, ck.toString)
        if (first == Default)
          assert(crcFiles(ck) > 0, "the default manager wrote no .crc sidecar to carry on from")
        land(src, 1)
        val after = run(query(session(second), src.toString), mode, ck.toString)
        assert(answer(before ++ after) == reference, s"$tag diverged after $leg restart")
      }
    }

  test("hourlyCounts carries on across a checkpoint manager switch, either way") {
    // complete mode: the last batch is the whole answer, and it holds
    // the first half's windows only if their state was restored
    checkSwitch("hourly", OutputMode.Complete(), None, _.last._2.toSet) { (s, src) =>
      EventStreams.hourlyCounts(EventStreams.readEventStream(s, src))
    }
  }

  test("RocksDB transformWithState carries on across a checkpoint manager switch, either way") {
    // s68's processor emits per-user delta transition counts, so the
    // answer sums both runs; a user whose events span the halves is
    // counted right only if the restored state bridges them
    checkSwitch("transitions", OutputMode.Update(), Some(RocksDb), batches =>
      batches.values.flatten.groupBy(r => (r.getString(0), r.getString(1)))
        .map { case ((f, t), rs) => Row(f, t, rs.map(_.getLong(2)).sum) }.toSet) { (s, src) =>
      import s.implicits._
      EventStreams.readEventStream(s, src)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .where(col("event_id").isNotNull && col("ts").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull && col("event_type").isNotNull)
        .as[EventStreams.Event]
        .groupByKey(_.user_id)
        .transformWithState(new EventStreams.TransitionCounter, TimeMode.None(), OutputMode.Update())
        .select("from_type", "to_type", "n")
    }
  }
}
