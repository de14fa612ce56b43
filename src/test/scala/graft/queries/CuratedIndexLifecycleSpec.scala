package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withTempDir

/**
 * Lifecycle contract of the CURATED-corpus index (s72/s73): the index
 * is digest-chained to the curation INPUT, so a fresh ensure is a
 * no-op, and regenerating the corpus invalidates and rebuilds the
 * whole artifact — the curation chain, the trained centroids, and the
 * partitioned list layout all move together.
 */
class CuratedIndexLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = Seq("query", "join", "hash", "table", "scan", "stream",
    "window", "batch", "data", "column", "vector", "sort", "merge", "key", "value")

  /** ~60-word salads with a stopword cadence that clears the quality
    * gate (the curation chain must actually keep documents). */
  private def salad(id: Long, n: Int = 60): String = {
    val rnd = new scala.util.Random(id * 7919 + 17)
    (0 until n).map { i =>
      if (i % 4 == 3) "the" else vocab(rnd.nextInt(vocab.size))
    }.mkString(" ")
  }

  private def writeDocs(dir: String, ids: Range, mode: String): Unit =
    ids.map(i => (i.toLong, salad(i.toLong),
        "en", "unit", salad(i.toLong).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(mode).parquet(s"$dir/documents.parquet")

  test("curated index: fresh ensure is a no-op; corpus regeneration rebuilds with a new stamp") {
    withTempDir("curated-life") { d =>
      val dir = d.toString
      writeDocs(dir, 0 until 40, "overwrite")

      val root = PipelineQueries.ensureCuratedIndexExport(spark, dir)
      val marker = Paths.get(root, "_SUCCESS")
      assert(Files.exists(marker))
      val stamp1 = new String(Files.readAllBytes(marker), "UTF-8")
      assert(stamp1 === RelationalQueries.srcDigest(dir, "documents") + ":curated-v2",
        "the marker must record the curation INPUT's digest plus the layout version")
      val indexed1 = spark.read.parquet(s"$root/index").count()
      assert(indexed1 >= 8, s"curation should keep enough chunks to train on: $indexed1")
      val mtime1 = Files.getLastModifiedTime(marker)

      // fresh ensure: nothing rebuilds (the marker is not rewritten)
      PipelineQueries.ensureCuratedIndexExport(spark, dir)
      assert(Files.getLastModifiedTime(marker) === mtime1,
        "a fresh ensure must not rebuild the index")

      // the corpus regenerates (new part file → new listing digest):
      // the whole artifact must rebuild under the NEW stamp
      writeDocs(dir, 40 until 60, "append")
      val root2 = PipelineQueries.ensureCuratedIndexExport(spark, dir)
      assert(root2 === root)
      val stamp2 = new String(Files.readAllBytes(marker), "UTF-8")
      assert(stamp2 !== stamp1, "a regenerated corpus must produce a new digest stamp")
      assert(stamp2 === RelationalQueries.srcDigest(dir, "documents") + ":curated-v2")
      val indexed2 = spark.read.parquet(s"$root/index").count()
      assert(indexed2 > indexed1,
        s"the rebuilt index must cover the grown corpus ($indexed1 -> $indexed2)")
    }
  }

  test("curated index: the trained centroids are a pure function of the corpus") {
    // the same determinism contract the PCA model pins (s66): identical
    // corpus → bit-identical trained artifact, so the oracle's spliced
    // centroids are reproducible and serving answers cannot drift
    // between builds
    def build(): (Array[Array[Double]], Long) = {
      withTempDir("curated-det") { d =>
        writeDocs(d.toString, 0 until 40, "overwrite")
        val root = PipelineQueries.ensureCuratedIndexExport(spark, d.toString)
        (spark.read.parquet(s"$root/centroids").orderBy("cid").collect()
          .map(r => r.getSeq[Double](r.fieldIndex("centroid")).toArray),
          spark.read.parquet(s"$root/index").count())
      }
    }
    val (a, chunksA) = build()
    val (b, _) = build()
    assert(a.length == b.length &&
      a.length == graft.operators.Similarity.ivfListsFor(chunksA),
      s"trained nlist ${a.length} must be the occupancy-held count for $chunksA chunks")
    a.zip(b).zipWithIndex.foreach { case ((ca, cb), i) =>
      assert(ca.sameElements(cb), s"centroid $i differs between identical-corpus builds")
    }
  }

  test("s76 refine tier: re-ranked answers track the fine-representation brute force") {
    import org.apache.spark.sql.functions._
    val sf = graft.SparkTestSession.sf0001
    val refined = graft.SparkEntry.queries("s76_curated_search_refined")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val coarse = graft.SparkEntry.queries("s73_curated_text_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // ground truth: brute-force top-5 per query over the FINE (64-bucket)
    // featurization of EVERY curated chunk — no probe restriction
    val root = PipelineQueries.ensureCuratedIndexExport(spark, sf)
    val chunks = spark.read.parquet(s"$root/index")
      .select($"nbr_id", graft.functions.TextFunctions
        .hashed_count_vector(graft.operators.TextAnalysis.tokens($"chunk_text"), 64)
        .as("fv"))
    // the ONE serving-query definition (a stale private copy here would
    // quietly turn the recall comparison apples-to-oranges if the
    // served strings ever changed)
    val queries = PipelineQueries.curatedSearchQueries.toDF("query_id", "qtext")
      .select($"query_id", graft.functions.TextFunctions
        .hashed_count_vector(graft.operators.TextAnalysis.tokens($"qtext"), 64)
        .as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy($"sim".desc, $"nbr_id")
    val brute = chunks.crossJoin(broadcast(queries))
      .select($"query_id", $"nbr_id",
        graft.operators.Similarity.cosine($"qv", $"fv").as("sim"))
      .withColumn("rk", row_number().over(w)).where($"rk" <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val hits = brute.keys.toSeq.map(q => (got.getOrElse(q, Set.empty) intersect brute(q)).size).sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    val rRef = recallOf(refined)
    val rCoarse = recallOf(coarse)
    info(f"fine-brute recall: refined=$rRef%.3f coarse-only=$rCoarse%.3f")
    // the refine tier exists to recover fine-representation quality the
    // 16-bucket coarse rank gives up: it must beat coarse-only and clear
    // a floor (probe restriction to 4 of the lists is the remaining gap)
    assert(rRef >= rCoarse,
      f"refine must not lose to coarse-only ($rRef%.3f vs $rCoarse%.3f)")
    assert(rRef >= 0.5, f"refined recall floor: $rRef%.3f")
  }

  test("curated index: nlist is occupancy-held — a bigger corpus trains more lists") {
    // the r10 verdict's vacuity finding: at the old FIXED nlist=8 the
    // s73 static `__cid IN` pruning listed every partition. With
    // ivfListsFor sizing, corpora on either side of the occupancy
    // boundary must train DIFFERENT list counts (and the trained count
    // must be exactly what the API derives from the surviving chunks).
    def build(nDocs: Int): (Long, Long) = {
      withTempDir("curated-size") { d =>
        writeDocs(d.toString, 0 until nDocs, "overwrite")
        val root = PipelineQueries.ensureCuratedIndexExport(spark, d.toString)
        (spark.read.parquet(s"$root/index").count(),
          spark.read.parquet(s"$root/centroids").count())
      }
    }
    val (smallChunks, smallN) = build(40)
    val (bigChunks, bigN) = build(600)
    assert(smallN == graft.operators.Similarity.ivfListsFor(smallChunks),
      s"small corpus: trained $smallN lists for $smallChunks chunks")
    assert(bigN == graft.operators.Similarity.ivfListsFor(bigChunks),
      s"big corpus: trained $bigN lists for $bigChunks chunks")
    assert(smallN < bigN,
      s"occupancy-held nlist must grow with the corpus " +
        s"($smallChunks chunks -> $smallN lists vs $bigChunks -> $bigN)")
  }
}
