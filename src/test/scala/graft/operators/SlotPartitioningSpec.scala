package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir
import graft.core.ClusterHash
import graft.functions.ClusterHashFunctions.cluster_node

class SlotPartitioningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val customer = spark.read.parquet(s"${SparkTestSession.sf0001}/customer.parquet")
    .select(concat(lit("user:"), $"c_custkey").as("key"), $"c_custkey")

  test("repartitionByNode co-locates each node in exactly one partition") {
    val parted = SlotPartitioning.repartitionByNode(customer, $"key")
    assert(parted.rdd.getNumPartitions == 6)
    // hash partitioning guarantee: all rows of a node share one partition
    // (two nodes may share a partition — hash collision — but never split)
    val split = parted.select($"key", cluster_node($"key").as("node"))
      .withColumn("pid", spark_partition_id())
      .groupBy("node").agg(countDistinct($"pid").as("n"))
      .where($"n" > 1).count()
    assert(split == 0)
  }

  test("colocated join plans no exchange above the pre-partitioned children") {
    val orders = spark.read.parquet(s"${SparkTestSession.sf0001}/orders.parquet")
      .select(concat(lit("user:"), $"o_custkey").as("key"), $"o_orderkey")
    val (l, r) = SlotPartitioning.colocatedJoin(customer, $"key", orders, $"key", 8)
    val joined = l.join(r, "key")
    val plan = joined.queryExecution.executedPlan.toString
    // exactly the two repartition exchanges, none introduced by the join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges (one per side), plan:\n$plan")
    assert(joined.count() > 0)
  }

  test("shard-aligned write produces one directory per node with pruning") {
    withTempDir("shard_aligned") { dirPath =>
      val dir = dirPath.toString
      SlotPartitioning.writeShardAligned(customer, $"key", dir)
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(dirs.toSeq == (1 to 6).map(n => s"node=$n"))
      // partition pruning: reading one shard scans only its directory
      val one = spark.read.parquet(dir).where($"node" === 3)
      val scanned = one.queryExecution.executedPlan.toString
      assert(scanned.contains("PartitionFilters: [isnotnull(node"), scanned)
      // round-trip correctness vs the core
      val bad = one.select($"key").collect()
        .count(r => ClusterHash.getNode(r.getString(0)) != 3)
      assert(bad == 0)
    }
  }

  test("salted join is row-identical to the plain join and spreads hot keys") {
    // hotspot keys: 1500 customers funneled into 5 segment slots
    val hot = customer
      .select($"c_custkey", graft.functions.ClusterHashFunctions.cluster_slot(
        concat(lit("{seg}:"), $"c_custkey")).as("slot")) // same tag → ONE hot slot
    val meta = spark.range(16384).select($"id".cast("int").as("slot"),
      ($"id" % 6 + 1).cast("int").as("meta_node"))
    val plain = hot.join(meta, "slot").select($"c_custkey", $"meta_node")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val salted = SlotPartitioning.saltedJoin(hot, meta, "slot", "c_custkey", salts = 8)
      .select($"c_custkey", $"meta_node")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(salted == plain && plain.size == customer.count())
    // the salt actually splits the hot key's rows into multiple groups
    val saltVals = hot.select(pmod(xxhash64($"c_custkey"), lit(8L))).distinct().count()
    assert(saltVals > 1)
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    spark.sql("DROP TABLE IF EXISTS b_cust"); spark.sql("DROP TABLE IF EXISTS b_ord")
    // a previously failed run may leave the managed location behind
    Seq("b_cust", "b_ord").foreach { t =>
      val d = java.nio.file.Paths.get(s"spark-warehouse/$t")
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    spark.read.parquet(s"${SparkTestSession.sf0001}/customer.parquet")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_cust")
    spark.read.parquet(s"${SparkTestSession.sf0001}/orders.parquet")
      .withColumnRenamed("o_custkey", "c_custkey")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_ord")
    // force the shuffle-join path (else the small side just broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_cust").join(spark.table("b_ord"), "c_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE b_cust"); spark.sql("DROP TABLE b_ord")
    }
  }

  test("nodeBalance shares sum to 1") {
    val shares = SlotPartitioning.nodeBalance(customer, $"key")
      .select($"share").collect().map(_.getDouble(0))
    assert(shares.length == 6)
    assert(math.abs(shares.sum - 1.0) < 1e-9)
  }
}
