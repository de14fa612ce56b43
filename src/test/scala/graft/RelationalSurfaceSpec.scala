package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ClusterHashFunctions
import graft.SparkTestSession.withTempDir

/**
 * Remaining host-engine surface from SURVEY.md §2.2/§2.3: SQL DDL
 * (CREATE TABLE / INSERT / CTAS, README.md:74-85,110-112), the
 * `range` table function, and CSV/JSON source/sink round-trips.
 */
class RelationalSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("CREATE TABLE + INSERT + SELECT with cluster functions (README.md:74-85)") {
    ClusterHashFunctions.register(spark)
    withTempDir("wh") { wh =>
      spark.sql("DROP TABLE IF EXISTS user_keys")
      spark.sql(s"CREATE TABLE user_keys (key STRING) USING parquet LOCATION '$wh/user_keys'")
      spark.sql("INSERT INTO user_keys VALUES ('user:1000'), ('product:5432'), ('{user:1000}:profile')")
      val rows = spark.sql(
        "SELECT key, cluster_slot(key) AS slot FROM user_keys ORDER BY key").collect()
      assert(rows.map(r => r.getString(0) -> r.getInt(1)).toSeq == Seq(
        "product:5432" -> 13236, "user:1000" -> 1649, "{user:1000}:profile" -> 1649))
      spark.sql("DROP TABLE user_keys")
    }
  }

  test("CTAS from range table function (README.md:110-120)") {
    ClusterHashFunctions.register(spark)
    withTempDir("wh2") { wh =>
      spark.sql("DROP TABLE IF EXISTS synth_keys")
      spark.sql(
        s"""CREATE TABLE synth_keys USING parquet LOCATION '$wh/synth_keys' AS
           |SELECT 'user:' || id AS key FROM range(1, 1001)""".stripMargin)
      val counts = spark.sql(
        """SELECT cluster_node(key) AS node, count(*) AS cnt
          |FROM synth_keys GROUP BY 1 ORDER BY 1""".stripMargin)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(counts == Map(1 -> 167L, 2 -> 165L, 3 -> 167L, 4 -> 170L, 5 -> 168L, 6 -> 163L))
      spark.sql("DROP TABLE synth_keys")
    }
  }

  test("csv source/sink round-trip preserves data") {
    import spark.implicits._
    withTempDir("csv") { dirPath =>
      val dir = dirPath.toString
      val src = spark.read.parquet(s"${SparkTestSession.sf0001}/nation.parquet")
      src.write.mode("overwrite").option("header", "true").csv(dir)
      val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
      assert(back.count() == src.count())
      assert(back.select(sum($"n_nationkey")).head().getLong(0) ==
        src.select(sum($"n_nationkey")).head().getLong(0))
    }
  }

  test("json source/sink round-trip preserves data") {
    import spark.implicits._
    withTempDir("json") { dirPath =>
      val dir = dirPath.toString
      val src = spark.read.parquet(s"${SparkTestSession.sf0001}/region.parquet")
      src.write.mode("overwrite").json(dir)
      val back = spark.read.json(dir)
      assert(back.count() == src.count())
      assert(back.select("r_name").collect().map(_.getString(0)).sorted.toSeq ==
        src.select("r_name").collect().map(_.getString(0)).sorted.toSeq)
    }
  }

  test("orc source/sink round-trip preserves data and schema") {
    import spark.implicits._
    withTempDir("orc") { dirPath =>
      val dir = dirPath.toString
      val src = spark.read.parquet(s"${SparkTestSession.sf0001}/nation.parquet")
      src.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.schema == src.schema, "ORC preserves types exactly")
      assert(back.count() == src.count())
      assert(back.select(sum($"n_nationkey")).head().getLong(0) ==
        src.select(sum($"n_nationkey")).head().getLong(0))
    }
  }

  test("c60/j61 oracle SQL tracks the verified run's export path") {
    import graft.queries.RelationalQueries
    val sf = SparkTestSession.sf0001
    RelationalQueries.queries("c60_csv_scan")(spark, sf).collect()
    RelationalQueries.queries("j61_json_scan")(spark, sf).collect()
    // stash-then-splice: after running at some sf, the dumped oracle
    // must read THAT run's export, not a hardcoded default scale
    assert(RelationalQueries.oracles("c60_csv_scan")
      .contains(RelationalQueries.csvDir(sf)))
    assert(RelationalQueries.oracles("j61_json_scan")
      .contains(RelationalQueries.jsonDir(sf)))
  }

  test("slot bitmap aggregator equals countDistinct on slots") {
    import spark.implicits._
    import graft.functions.ClusterHashFunctions.cluster_slot
    val slots = spark.read.parquet(s"${SparkTestSession.sf0001}/orders.parquet")
      .select(cluster_slot(concat(lit("order:"), $"o_orderkey")).as("slot"))
    val viaBitmap = slots.agg(
      graft.functions.SlotBitmapAgg.distinct_slots($"slot")).head().getLong(0)
    val viaCountD = slots.agg(countDistinct($"slot")).head().getLong(0)
    assert(viaBitmap == viaCountD && viaBitmap > 0)
  }
}
