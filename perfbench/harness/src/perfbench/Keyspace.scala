package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.ClusterHash
import graft.functions.ClusterHashFunctions.{cluster_node, cluster_slot}
import graft.operators.SlotPartitioning

/** Generated keys through the slot kernel, the slot expressions and the
  * shard layout: node balance and hot slots (reads of every key), then
  * a shard-aligned write, per-shard pruned reads and a co-located join. */
object Keyspace extends Workload {
  val Layer = "operators.slot_partitioning"

  def run(ctx: Ctx): Workload.Result = {
    val spark = ctx.spark
    val a = ctx.args
    val topN = a.int("hot_top_n")
    val joinParts = a.int("join_partitions")
    val keys = spark.read.parquet(s"${a.inputs}/keys.parquet")
    val right = spark.read.parquet(s"${a.inputs}/right.parquet")
    val n = keys.count()
    val shards = s"${a.work}/shards"
    var balance = Array.empty[org.apache.spark.sql.Row]
    var hot = Array.empty[org.apache.spark.sql.Row]
    val reads = new Array[(Long, Long)](ClusterHash.NumNodes)
    var joined = (0L, 0L)
    var writeSec = Seq.empty[Double]
    var readSec = Seq.empty[Double]
    var keysPerSec = Seq.empty[Double]

    def round(): Unit = {
      val tb = ctx.op(Layer, "node_balance") {
        balance = ctx.exec(Layer, "node_balance")(
          SlotPartitioning.nodeBalance(keys, col("key")).orderBy("node").collect())
      }
      val th = ctx.op("functions", "hot_slots") {
        hot = ctx.exec("functions", "hot_slots")(
          keys.select(cluster_slot(col("key")).as("slot")).groupBy("slot").count()
            .orderBy(desc("count"), asc("slot")).limit(topN).collect())
      }
      for (b <- tb; h <- th if ctx.timing) keysPerSec :+= 2 * n / (b + h)
      ctx.op(Layer, "write") {
        ctx.exec(Layer, "write")(SlotPartitioning.writeShardAligned(keys, col("key"), shards))
      }.foreach(s => if (ctx.timing) writeSec :+= s)
      for (node <- 1 to ClusterHash.NumNodes)
        ctx.op(Layer, "read") {
          val r = ctx.exec(Layer, "read")(spark.read.parquet(shards).where(col("node") === node)
            .agg(count(lit(1)), coalesce(sum(col("id")), lit(0L))).head())
          reads(node - 1) = (r.getLong(0), r.getLong(1))
        }.foreach(s => if (ctx.timing) readSec :+= s)
      ctx.op(Layer, "join") {
        val (l, r) = SlotPartitioning.colocatedJoin(keys, col("key"), right, col("key"), joinParts)
        val row = ctx.exec(Layer, "join")(l.join(r, "key")
          .agg(count(lit(1)), coalesce(sum(col("val")), lit(0L))).head())
        joined = (row.getLong(0), row.getLong(1))
      }
    }
    ctx.loop(_ => round())

    val shardBytes = Files.walk(Paths.get(shards)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

    // core and functions on their own, for the traced run only
    val layers = if (!a.trace) Nil else {
      val bytes = keys.select(col("key").cast("binary")).collect().map(_.getAs[Array[Byte]](0))
      val perKey = (1 to 5).map { _ =>
        var acc = 0
        val t0 = System.nanoTime()
        ctx.tracer.span("core", "getSlot") {
          var i = 0
          while (i < bytes.length) { acc ^= ClusterHash.getSlot(bytes(i)); i += 1 }
        }
        val ns = (System.nanoTime() - t0).toDouble / bytes.length
        if (acc == -1) println(acc) // keeps the loop from being optimised away
        ns
      }
      val projection = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("functions", "slot_projection")(
          Harness.noop(keys.select(cluster_slot(col("key")), cluster_node(col("key")))))
        (System.nanoTime() - t0) / 1e9
      }
      val shuffled = ctx.telemetry.groupsWithPrefix(Layer).map(_.shuffleWrite).sum
      Seq(
        "core.getslot_ns_per_key" -> Stats.median(perKey),
        "functions.slot_projection_s" -> Stats.median(projection),
        s"$Layer.node_balance_s" -> ctx.med("node_balance"),
        s"$Layer.write_s" -> ctx.med("write"),
        s"$Layer.read_s" -> ctx.med("read"),
        s"$Layer.join_s" -> ctx.med("join"),
        s"$Layer.shuffle_write_bytes" -> shuffled / math.max(1, ctx.roundSeconds.size).toDouble)
    }

    // untimed: the outputs run.py checks
    ctx.listen()
    ctx.drain()
    val before = ctx.telemetry.total.recordsWritten
    val verifyShards = s"${a.work}/verify/shards"
    SlotPartitioning.writeShardAligned(keys, col("key"), verifyShards)
    ctx.drain()
    val recordsWritten = ctx.telemetry.total.recordsWritten - before
    val readBack = spark.read.parquet(verifyShards).count()
    keys.select(col("id"), cluster_slot(col("key")).as("slot"), cluster_node(col("key")).as("node"))
      .write.parquet(s"${a.work}/verify/slots")

    Workload.Result(
      e2e = Seq(
        "work_per_s" -> Stats.median(keysPerSec),
        "op_p50_s" -> Stats.median(readSec),
        "op_cpu_s" -> Stats.median(ctx.cpu("read"))),
      detail = Seq(
        "keys" -> n,
        "keys_per_s" -> Stats.median(keysPerSec),
        "shard_write_rows_per_s" -> Stats.median(writeSec.map(n / _)),
        "shard_read_p50_s" -> Stats.median(readSec),
        "shard_read_samples" -> readSec.size,
        "shard_bytes_per_row" -> shardBytes.toDouble / n),
      layers = layers,
      outputs = Seq(
        "keys" -> n,
        "node_balance" -> balance.toSeq.map(r => Seq(r.getAs[Int]("node"), r.getAs[Long]("keys"),
          r.getAs[Long]("distinct_slots"), r.getAs[Double]("share"))),
        "hot_slots" -> hot.toSeq.map(r => Seq(r.getInt(0), r.getLong(1))),
        "shard_reads" -> reads.toSeq.map { case (c, s) => Seq(c, s) },
        "join" -> Seq(joined._1, joined._2),
        "records_written" -> recordsWritten,
        "read_back" -> readBack,
        "shards_dir" -> shards,
        "verify_shards_dir" -> verifyShards,
        "slots_dir" -> s"${a.work}/verify/slots"))
  }
}
