package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withTempDir

/**
 * Edge-case drives of the declared SQL-surface queries against
 * synthetic mini-tables. The driver's oracle gate runs them on the
 * fixed TESTDATA corpus, where some defensive paths never fire (every
 * returnflag × linestatus combination exists, every stat group has >1
 * row, …); these tests write tiny parquet tables of the same shape and
 * call the SAME query functions on them, so the paths the corpus can't
 * reach stay covered.
 */
class SqlSurfaceEdgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Writes rows as `<tmp>/<table>.parquet` and runs `body` on the dir. */
  private def withTables[T](tables: (String, StructType, Seq[Row])*)(body: String => T): T =
    withTempDir("edge") { tmp =>
      val dir = tmp.toString
      tables.foreach { case (name, schema, rows) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      body(dir)
    }

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private def li(ok: Long, qty: Double, price: Double, rf: String, ls: String) =
    Row(ok, 1L, 1L, 1, qty, price, 0.0, 0.0, rf, ls,
      java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private def ord(ok: Long, ck: Long, st: String, tp: Double) =
    Row(ok, ck, st, tp, java.sql.Timestamp.valueOf("1995-01-02 00:00:00"), "1-URGENT")

  // ts is nanos-as-long, mirroring the corpus's TIMESTAMP(NANOS) layout
  // that Tables.load normalizes (ts div 1000 → timestamp_micros)
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def ev(id: Long, sec: Int, uid: Long, typ: String, v: Double) =
    Row(id, (946684800000L + sec * 1000L) * 1000000L, uid, typ, v, s"""{"k": $id}""")

  test("a64: absent pivot combinations surface as 0, not dropped rows") {
    // only (A,F) and (N,O) exist; the other 4 cells must appear as 0
    withTables(("lineitem", lineitemSchema, Seq(
      li(1, 10, 100, "A", "F"), li(2, 5, 50, "A", "F"), li(3, 7, 70, "N", "O")))) { dir =>
      val rows = SparkEntry.queries("a64_unpivot")(spark, dir).collect()
      assert(rows.length == 6, rows.mkString(";"))
      val cells = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(cells(("F", "A")) == 15L && cells(("O", "N")) == 7L)
      assert(cells(("F", "N")) == 0L && cells(("F", "R")) == 0L &&
        cells(("O", "A")) == 0L && cells(("O", "R")) == 0L)
    }
  }

  test("a59: one-sided customers keep a row with the missing side coalesced to 0") {
    withTables(("orders", ordersSchema, Seq(
      ord(1, 100, "F", 10.0),              // F-only customer
      ord(2, 200, "O", 20.0),              // O-only customer
      ord(3, 300, "F", 30.0), ord(4, 300, "O", 40.0)))) { dir => // both sides
      val rows = SparkEntry.queries("a59_full_outer")(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows(100L) == ((1L, 0L)) && rows(200L) == ((0L, 1L)) && rows(300L) == ((1L, 1L)))
    }
  }

  test("a62: a single-row group yields NULL corr/variance, not a crash") {
    withTables(("lineitem", lineitemSchema, Seq(li(1, 10, 100, "A", "F")))) { dir =>
      val r = SparkEntry.queries("a62_stat_aggs")(spark, dir).collect()
      assert(r.length == 1)
      assert(r(0).isNullAt(r(0).fieldIndex("price_qty_corr")))   // undefined on n=1
      assert(r(0).isNullAt(r(0).fieldIndex("qty_var")))          // sample var undefined
      assert(r(0).getLong(r(0).fieldIndex("n")) == 1L)
    }
  }

  test("a65: a user with no purchases carries NULL navigation values throughout") {
    withTables(("events", eventsSchema, Seq(
      ev(1, 0, 53, "view", 1.0), ev(2, 60, 53, "click", 2.0),   // user 53: no purchases
      ev(3, 0, 106, "purchase", 5.0), ev(4, 60, 106, "view", 1.0)))) { dir => // user 106: one purchase
      val rows = SparkEntry.queries("a65_window_nulls")(spark, dir).collect()
      val u53 = rows.filter(_.getLong(0) == 53L)
      assert(u53.length == 2 && u53.forall(r => r.isNullAt(2) && r.isNullAt(3)))
      // second event in each partition sees nth_value(event_id, 2)
      assert(u53.last.getLong(4) == 2L)
      val u106 = rows.filter(_.getLong(0) == 106L)
      // the view AFTER the purchase still sees it via IGNORE NULLS last()
      assert(u106.last.getDouble(2) == 5.0)
    }
  }

  test("a70: the NULL buckets of both sides match each other, and only once") {
    withTables(("events", eventsSchema, Seq(
      ev(1, 0, 7, "click", 1.0), ev(2, 1, 14, "click", 1.0),  // NULL bucket clicks (7|uid)
      ev(3, 2, 7, "view", 1.0),                               // NULL bucket view
      ev(4, 3, 3, "click", 1.0), ev(5, 4, 3, "view", 1.0)))) { dir => // bucket 3 both sides
      val rows = SparkEntry.queries("a70_nullsafe_join")(spark, dir).collect()
      assert(rows.length == 2, rows.mkString(";"))
      val nullRow = rows.filter(_.isNullAt(0))
      assert(nullRow.length == 1 && nullRow(0).getLong(1) == 2L && nullRow(0).getLong(2) == 1L)
    }
  }

  test("a66: days with no orders report zero counts and NULL totals") {
    withTables(("orders", ordersSchema, Seq(ord(1, 1, "F", 10.0)))) { dir =>
      val rows = SparkEntry.queries("a66_recursive_spine")(spark, dir).collect()
      assert(rows.length == 31)
      assert(rows.count(_.getLong(1) > 0) == 1)                  // only Jan 2 has the order
      assert(rows.filter(_.getLong(1) == 0).forall(_.isNullAt(2)))
    }
  }
}
