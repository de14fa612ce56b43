package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/**
 * Regression guard for driver-side data regenerations (the round-5
 * incident): `events.ts` has shipped as both int64 nanos (read as
 * LongType under `nanosAsLong`) and TIMESTAMP(MICROS)-no-tz
 * (TIMESTAMP_NTZ), and the live testdata only ever exercises ONE of
 * those paths — so each branch of the adaptive normalizers needs a
 * synthetic fixture here or a future refactor can silently drop it.
 */
class SchemaDriftSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 2021-03-04T05:06:07.123456Z in micros since epoch
  private val micros = 1614834367123456L

  test("ts as raw int64 nanos normalizes to the micros-floored timestamp") {
    withTempDir("drift-nanos") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, micros * 1000L + 789L, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = Tables.load(spark, dir, "events")
      assert(out.schema("ts").dataType === TimestampType)
      val got = out.select(unix_micros($"ts")).head().getLong(0)
      assert(got === micros) // sub-micro nanos floored away
    }
  }

  test("ts as TIMESTAMP_NTZ normalizes to the same instant under UTC session") {
    withTempDir("drift-ntz") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, micros, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp_ntz(timestamp_micros($"us")))
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      assert(raw.schema("ts").dataType === TimestampNTZType) // fixture really is NTZ
      val out = Tables.load(spark, dir, "events")
      assert(out.schema("ts").dataType === TimestampType)
      assert(out.select(unix_micros($"ts")).head().getLong(0) === micros)
    }
  }

  test("streaming reader infers the on-disk schema and agrees with batch") {
    withTempDir("drift-stream-ntz") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, micros, 7L, "click", 1.0, "{}"),
          (2L, micros + 5L, 8L, "view", 2.0, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp_ntz(timestamp_micros($"us")))
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val stream = graft.streaming.EventStreams.readEventStream(spark, s"$dir/events.parquet")
      assert(stream.isStreaming)
      assert(stream.schema("ts").dataType === TimestampType)
      val q = stream.writeStream.format("memory").queryName("drift_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("drift_stream")
        .select(unix_micros($"ts")).as[Long].collect().sorted
      assert(got.sameElements(Array(micros, micros + 5L)))
      spark.catalog.dropTempView("drift_stream")
    }
  }

  test("embeddings as array<double> normalize to array<float>") {
    withTempDir("drift-emb") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, Seq(0.25d, -1.5d), 0), (2L, Seq(1.0d, 2.0d), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = Tables.load(spark, dir, "embeddings")
      assert(out.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
      val v = out.where($"vec_id" === 1L)
        .select($"embedding").head().getSeq[Float](0)
      assert(v === Seq(0.25f, -1.5f))
    }
  }

  test("streaming reader handles the raw int64-nanos encoding too") {
    withTempDir("drift-stream-nanos") { dirPath =>
      val dir = dirPath.toString
      Seq((1L, micros * 1000L + 999L, 7L, "click", 1.0, "{}"),
          (2L, (micros + 3L) * 1000L, 8L, "view", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val stream = graft.streaming.EventStreams.readEventStream(spark, s"$dir/events.parquet")
      assert(stream.schema("ts").dataType === TimestampType)
      val q = stream.writeStream.format("memory").queryName("drift_stream_nanos")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("drift_stream_nanos")
        .select(unix_micros($"ts")).as[Long].collect().sorted
      assert(got.sameElements(Array(micros, micros + 3L))) // nanos floored
      spark.catalog.dropTempView("drift_stream_nanos")
    }
  }

  test("time-range predicate on normalized ts still reaches the parquet scan") {
    // the NTZ -> session-TZ cast sits between user predicates and the
    // scan; Catalyst must unwrap it (UnwrapCastInBinaryComparison) or
    // a 100 TB time-range query loses row-group pruning on the fact
    // table. Pin the pushed filter, not just the answer.
    val ev = Tables.load(spark, graft.SparkTestSession.sf001, "events")
    val q = ev.where($"ts" >= java.sql.Timestamp.valueOf("2021-06-01 00:00:00"))
    val leaves = q.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(leaves.contains("GreaterThanOrEqual(ts"), leaves)
  }

  test("streaming reader on an empty directory starts with the legacy fallback schema") {
    // a stream can legitimately start over an existing-but-empty dir
    // (files arrive later); batch inference fails there, so the legacy
    // schema fallback must kick in and the stream must still start
    withTempDir("drift-empty") { dirPath =>
      val dir = dirPath.toString
      val path = s"$dir/events.parquet"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(path))
      val stream = graft.streaming.EventStreams.readEventStream(spark, path)
      assert(stream.isStreaming)
      // legacy eventSchema: raw long nanos, normalized to timestamp
      assert(stream.schema("ts").dataType === TimestampType)
    }
  }

  test("streaming reader FAILS LOUDLY on an existing-but-unreadable schema path") {
    // the round-6 advice class: a transient/corrupt read must NOT be
    // silently papered over with the legacy nanos schema (that decodes
    // micros files as nanos -> ~1970 timestamps)
    withTempDir("drift-corrupt") { dirPath =>
      val dir = dirPath.toString
      val f = new java.io.File(s"$dir/events.parquet")
      java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
      intercept[Throwable] {
        graft.streaming.EventStreams.readEventStream(spark, f.toString)
          .schema // force evaluation
      }
    }
  }

  test("embeddings already array<float> load unchanged (no cast in plan)") {
    val out = Tables.load(spark, graft.SparkTestSession.sf0001, "embeddings")
    assert(out.schema("embedding").dataType.asInstanceOf[ArrayType].elementType === FloatType)
    assert(!out.queryExecution.optimizedPlan.toString.toLowerCase.contains("cast"))
  }
}
