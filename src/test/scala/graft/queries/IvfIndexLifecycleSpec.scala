package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/**
 * Lifecycle contract of the persisted IVF index (build → append →
 * self-heal): the digest chain must survive a hand-damaged generation
 * by rebuilding, never by surfacing a raw filesystem exception.
 */
class IvfIndexLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Tiny deterministic corpus in a fresh dir (its own index root). */
  private def withFreshCorpus[T](body: String => T): T = withTempDir("ivf-life") { d =>
    val dir = d.toString
    val rnd = new scala.util.Random(11)
    (0L until 30L).map(i => (i, Seq.fill(64)(rnd.nextFloat()), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    body(dir)
  }

  test("a hand-deleted base _SUCCESS between delta ensures rebuilds, not crashes") {
    withFreshCorpus { dir =>
      val root = PipelineQueries.ensureIvfDeltaExport(spark, dir)
      val base = Paths.get(root, "_SUCCESS")
      val deltaMarker = Paths.get(root, "delta", "_SUCCESS")
      assert(Files.exists(base) && Files.exists(deltaMarker))
      val stampBefore = new String(Files.readAllBytes(base), "UTF-8")
      // damage the generation the way an operator might: remove the base
      // marker only, leaving index files behind
      Files.delete(base)
      val root2 = PipelineQueries.ensureIvfDeltaExport(spark, dir)
      assert(root2 === root)
      assert(Files.exists(base), "the base generation must have been rebuilt")
      val stampAfter = new String(Files.readAllBytes(base), "UTF-8")
      assert(stampAfter === stampBefore,
        "same corpus → same digest stamp after the self-heal rebuild")
      assert(new String(Files.readAllBytes(deltaMarker), "UTF-8") === stampAfter,
        "the delta must be re-chained to the healed base generation")
    }
  }

  test("a hand-deleted base _SUCCESS before compaction re-validates the WHOLE chain") {
    // compaction is the chain's terminal link: a self-heal that only
    // rebuilt the base would stamp gen2 against a healed base over a
    // STALE delta/tombstones and nothing downstream would ever catch
    // it. The compaction ensure must re-run the chain after healing.
    withFreshCorpus { dir =>
      val root = PipelineQueries.ensureIvfCompaction(spark, dir)
      val base = Paths.get(root, "_SUCCESS")
      val stampBefore = new String(Files.readAllBytes(base), "UTF-8")
      Files.delete(base)
      val root2 = PipelineQueries.ensureIvfCompaction(spark, dir)
      assert(root2 === root)
      assert(Files.exists(base), "the base generation must have been rebuilt")
      val stampAfter = new String(Files.readAllBytes(base), "UTF-8")
      assert(stampAfter === stampBefore,
        "same corpus → same digest stamp after the self-heal rebuild")
      for (leaf <- Seq("delta", "tombstones", "gen2"))
        assert(new String(Files.readAllBytes(Paths.get(root, leaf, "_SUCCESS")), "UTF-8")
          === stampAfter, s"$leaf must re-chain to the healed base generation")
    }
  }

  test("tombstone serving == from-scratch rebuild on the surviving corpus == compacted gen") {
    withFreshCorpus { dir =>
      val root = PipelineQueries.ensureIvfCompaction(spark, dir)
      val cents = spark.read.parquet(s"$root/centroids").orderBy("cid").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        .where($"vec_id" < 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "nbr_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // the tombstone-anti-join path
      val tombstoned = rows(graft.operators.Similarity.ivfTopKOnIndexByExpr(cents,
        spark.read.parquet(s"$root/index")
          .unionByName(spark.read.parquet(s"$root/delta"))
          .join(org.apache.spark.sql.functions.broadcast(
            spark.read.parquet(s"$root/tombstones")
              .withColumnRenamed("vec_id", "nbr_id")), Seq("nbr_id"), "left_anti"),
        queries, k = 10))
      // a from-scratch rebuild on the surviving corpus with the SAME
      // frozen centroids (assignment is per-vector, so it must agree)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val surviving = emb.where($"vec_id" % 10 =!= 7)
        .select($"vec_id", $"embedding")
        .unionByName(emb.where($"vec_id" < 200 && $"vec_id" % 10 =!= 7)
          .select(($"vec_id" + 100000000L).as("vec_id"),
            org.apache.spark.sql.functions.reverse($"embedding").as("embedding")))
      val rebuilt = rows(graft.operators.Similarity.ivfTopKOnIndexByExpr(cents,
        graft.operators.Similarity.ivfAssignedByExpr(cents, surviving), queries, k = 10))
      assert(tombstoned === rebuilt,
        "serving after deletes must equal a from-scratch rebuild on the surviving corpus")
      // the compacted generation serves identically from one clean scan
      val compacted = rows(graft.operators.Similarity.ivfTopKOnIndexByExpr(cents,
        spark.read.parquet(s"$root/gen2/index"), queries, k = 10))
      assert(compacted === tombstoned,
        "compaction must never change an answer")
      // tombstoned ids are really gone from both serving paths
      assert(!tombstoned.exists(_._2 % 10 == 7) && !compacted.exists(_._2 % 10 == 7))
      // the whole chain is stamped to the same base generation
      val baseStamp = new String(Files.readAllBytes(Paths.get(root, "_SUCCESS")), "UTF-8")
      for (leaf <- Seq("delta", "tombstones", "gen2"))
        assert(new String(Files.readAllBytes(Paths.get(root, leaf, "_SUCCESS")), "UTF-8")
          === baseStamp, s"$leaf must chain to the base stamp")
    }
  }
}
