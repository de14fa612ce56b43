package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/**
 * Contract tests for the trained-quantizer memo (PipelineQueries):
 * the cache key must see THROUGH a Spark-written directory to its part
 * files (an in-place part-file rewrite that preserves the entry set
 * must invalidate), and a regeneration must EVICT the dead generation
 * rather than accumulate one model per rewrite.
 */
class QuantizerMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withFreshCorpus[T](body: String => T): T = withSizedCorpus(20)(body)

  private def withSizedCorpus[T](n: Int)(body: String => T): T = withTempDir("memo") { d =>
    val dir = d.toString
    val rnd = new scala.util.Random(7)
    (0L until n.toLong).map(i => (i, Seq.fill(64)(rnd.nextFloat()), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    body(dir)
  }

  test("corpusKey changes when a part file is touched in place (same entry names)") {
    withFreshCorpus { dir =>
      val before = PipelineQueries.corpusKey(dir)
      val part = new java.io.File(s"$dir/embeddings.parquet").listFiles()
        .filter(_.getName.startsWith("part-")).head
      assert(part.setLastModified(part.lastModified() + 2000L))
      val after = PipelineQueries.corpusKey(dir)
      assert(before !== after,
        "an in-place part-file rewrite must change the quantizer cache key")
    }
  }

  test("a corpus regeneration evicts the stale model — one live entry per dir") {
    withFreshCorpus { dir =>
      val c1 = PipelineQueries.centroids16(spark, dir)
      assert(c1.length === 16)
      assert(PipelineQueries.kmCache.keys.count(_.startsWith(s"$dir@")) === 1)
      // regenerate in place: same entry names, new mtimes
      new java.io.File(s"$dir/embeddings.parquet").listFiles()
        .filter(_.getName.startsWith("part-"))
        .foreach(f => assert(f.setLastModified(f.lastModified() + 2000L)))
      PipelineQueries.centroids16(spark, dir)
      assert(PipelineQueries.kmCache.keys.count(_.startsWith(s"$dir@")) === 1,
        s"stale generations must be evicted: ${PipelineQueries.kmCache.keys.toSeq}")
    }
  }

  test("sibling nlists of one generation share the memo; a regeneration evicts both") {
    withSizedCorpus(200) { dir =>
      def live = PipelineQueries.kmCache.keys.filter(_.startsWith(s"$dir@")).toSet
      val c16 = PipelineQueries.centroids16(spark, dir)
      val c128 = PipelineQueries.centroids(spark, dir, 128)
      assert(c16.length === 16 && c128.length === 128)
      val gen1 = live
      assert(gen1.size === 2, gen1)
      // training the 128-list sibling evicted nothing: both are hits
      assert(PipelineQueries.centroids16(spark, dir) eq c16)
      assert(PipelineQueries.centroids(spark, dir, 128) eq c128)
      new java.io.File(s"$dir/embeddings.parquet").listFiles()
        .filter(_.getName.startsWith("part-"))
        .foreach(f => assert(f.setLastModified(f.lastModified() + 2000L)))
      PipelineQueries.centroids16(spark, dir)
      val gen2 = live
      assert(gen2.size === 1 && (gen2 & gen1).isEmpty,
        s"a regeneration must evict every nlist of the old generation: $gen1 -> $gen2")
    }
  }
}
