package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.functions.{CentroidFunctions, TopKAgg}

/**
 * Fused broadcast-query top-k: the `rankAgg = true` kernel of
 * [[Similarity.bruteForceTopK]], [[Similarity.ivfTopKByExpr]] and
 * [[Similarity.ivfTopKOnIndexByExpr]] wherever the query set is
 * broadcast. One corpus scan, no per-pair rows, no shuffle.
 *
 * The candidate-stream form turns every (corpus row, query) pair into
 * a Spark row, joins it, boxes it into a [[TopKAgg]] tuple and shuffles
 * it into an ObjectHashAggregate. Here the call runs two jobs instead:
 *  1. collect the query side once (for IVF with each query's
 *     `centroid_probes` list) and broadcast it as a flat primitive
 *     matrix with its norms — for IVF also the probe lists inverted to
 *     cid → query indices;
 *  2. scan the corpus: each task reads (nbr_id, vec[, __cid]) straight
 *     from the scan's InternalRows, computes the row norm once and one
 *     dot product per targeted query, and keeps ≤ k (sim, nbr_id) per
 *     query in primitive arrays. The driver merges the task partials
 *     per query_id through [[TopKAgg.merge]] as each one arrives.
 *
 * Answers are row-for-row those of the window form, sims included
 * (SimilaritySpec / IvfExprTierSpec pin it): the arithmetic is
 * [[Similarity.cosinePrenormed]]'s — each element widened to DOUBLE,
 * left-to-right sums from 0.0, sqrt norms, 0 when `qn*cn == 0` — the
 * order is TopKAgg's (sim DESC, nbr_id ASC) with its NaN and -0.0 rules,
 * self-pairs are skipped, NULL ids and vectors are dropped. Driver
 * memory is O(|queries|·k) plus one task partial in flight.
 */
private[graft] object FusedTopK {

  /** The query side as each task holds it (broadcast once per call). */
  private final class QuerySide(val ids: Array[Long], val dim: Int,
                                val vecs: Array[Double], val norms: Array[Double],
                                val byCid: Array[Array[Int]]) extends Serializable

  /** One task's bounded buffers: query qi owns slots [qi·k, qi·k + cnt(qi)). */
  private final class Partial(val cnt: Array[Int], val sims: Array[Double],
                              val ids: Array[Long]) extends Serializable

  /** Whether the fused kernel serves this call: batch inputs, and a query
    * id the self-pair test can compare as a long (the `nbr_id =!=
    * query_id` coercion). Anything else keeps the candidate stream. */
  def applies(corpus: DataFrame, queries: DataFrame, idCol: String): Boolean =
    !corpus.isStreaming && !queries.isStreaming && (queries.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  def brute(corpus: DataFrame, queries: DataFrame, k: Int,
            idCol: String, vecCol: String): DataFrame = {
    val scan = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cvec"))
    Similarity.requireLongNbr(scan.schema("nbr_id").dataType)
    val rows = queries.select(col(idCol), col(vecCol)).collect()
    run(scan, rows, None, k, queries.schema(idCol).dataType)
  }

  /** `assigned` is the [[Similarity.ivfAssignedByExpr]] shape (nbr_id, cvec,
    * cn, __cid). `pruneLists` filters it to the probed lists — a static
    * partition filter on an on-disk `partitionBy(__cid)` index, where
    * the candidate stream relied on dynamic partition pruning. */
  def ivf(assigned: DataFrame, cents: Array[Array[Double]], queries: DataFrame,
          k: Int, nprobe: Int, idCol: String, vecCol: String,
          pruneLists: Boolean): DataFrame = {
    Similarity.requireLongNbr(assigned.schema("nbr_id").dataType)
    val rows = queries.select(col(idCol), col(vecCol),
      CentroidFunctions.centroid_probes(col(vecCol), cents, nprobe).as("__probes")).collect()
    val probed = rows.filterNot(_.isNullAt(2)).flatMap(_.getSeq[Int](2)).distinct
    val lists = if (pruneLists) assigned.where(col("__cid").isin(probed.toIndexedSeq: _*))
      else assigned
    val scan = lists.select(col("nbr_id"), col("cvec"), col("__cid").cast("int"))
    run(scan, rows, Some(cents.length), k, queries.schema(idCol).dataType)
  }

  /** Rows are (query_id, vec[, probes]); `nlist` is set for IVF. */
  private def run(scan: DataFrame, rows: Array[Row], nlist: Option[Int], k: Int,
                  keyType: DataType): DataFrame = {
    val spark = scan.sparkSession
    val schema = StructType(Seq(StructField("query_id", keyType, nullable = false),
      StructField("nbr_id", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("sim", DoubleType, nullable = false)))
    val isFloat = scan.schema("cvec").dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"vec_dot needs array<float|double>, got $t")
    }
    // a NULL vector has NULL probes too (centroid_probes is null-intolerant)
    val usable = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    if (usable.isEmpty) return spark.createDataFrame(java.util.List.of[Row](), schema)

    val vecs = usable.map(_.getSeq[Any](1).iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
      case null => 0.0 // a null element reads as 0, as VecOps' getFloat/getDouble do
    }.toArray)
    val dim = vecs(0).length
    vecs.foreach(v => if (v.length != dim)
      throw new IllegalArgumentException(s"vec_dot: dimension mismatch $dim vs ${v.length}"))
    val byCid = nlist.map { n =>
      val lists = Array.fill(n)(mutable.ArrayBuilder.make[Int])
      usable.indices.foreach(qi => usable(qi).getSeq[Int](2).foreach { c =>
        if (c >= 0 && c < n) lists(c) += qi
      })
      lists.map(_.result())
    }.orNull
    val side = new QuerySide(usable.map(_.get(0).asInstanceOf[Number].longValue()), dim,
      vecs.flatten, vecs.map(v => math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))), byCid)

    val nq = usable.length
    val agg = new TopKAgg(k)
    val acc = Array.fill(nq)(Array.empty[(Double, Long)])
    val bc = spark.sparkContext.broadcast(side)
    try Bridge.withExecution(scan, "fusedTopK") {
      spark.sparkContext.runJob(scan.queryExecution.toRdd,
        (it: Iterator[InternalRow]) => scanPartition(it, bc.value, k, isFloat),
        (_: Int, p: Partial) => {
          var qi = 0
          while (qi < nq) {
            val n = p.cnt(qi)
            if (n > 0) acc(qi) = agg.merge(acc(qi),
              Array.tabulate(n)(j => (p.sims(qi * k + j), p.ids(qi * k + j))))
            qi += 1
          }
        })
    } finally bc.destroy()

    // duplicate query ids rank their candidates jointly, as one window
    // partition / one TopKAgg group would
    val byKey = mutable.LinkedHashMap.empty[Any, Array[(Double, Long)]]
    usable.indices.foreach { qi =>
      val key = usable(qi).get(0)
      byKey(key) = byKey.get(key).fold(acc(qi))(agg.merge(_, acc(qi)))
    }
    val out = byKey.iterator.flatMap { case (key, top) =>
      top.iterator.zipWithIndex.map { case ((s, id), r) => Row(key, id, r + 1, s) }
    }.toSeq
    spark.createDataFrame(out.asJava, schema)
  }

  private def scanPartition(it: Iterator[InternalRow], q: QuerySide, k: Int,
                            isFloat: Boolean): Partial = {
    val nq = q.ids.length
    val dim = q.dim
    val p = new Partial(new Array[Int](nq), new Array[Double](nq * k), new Array[Long](nq * k))
    val brute = q.byCid == null
    val cv = new Array[Double](dim)
    while (it.hasNext) {
      val r = it.next()
      if (!r.isNullAt(0) && !r.isNullAt(1) && (brute || !r.isNullAt(2))) {
        val targets =
          if (brute) null
          else { val c = r.getInt(2); if (c >= 0 && c < q.byCid.length) q.byCid(c) else Array.emptyIntArray }
        val nt = if (brute) nq else targets.length
        if (nt > 0) {
          val id = r.getLong(0)
          val a = r.getArray(1)
          if (a.numElements() != dim)
            throw new IllegalArgumentException(s"vec_dot: dimension mismatch $dim vs ${a.numElements()}")
          var ss = 0.0
          var i = 0
          while (i < dim) {
            val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
            cv(i) = x; ss += x * x; i += 1
          }
          val cn = math.sqrt(ss)
          var t = 0
          while (t < nt) {
            val qi = if (brute) t else targets(t)
            if (q.ids(qi) != id) {
              val off = qi * dim
              var dot = 0.0
              var j = 0
              while (j < dim) { dot += q.vecs(off + j) * cv(j); j += 1 }
              val np = q.norms(qi) * cn
              offer(p, qi, k, if (np == 0.0) 0.0 else dot / np, id)
            }
            t += 1
          }
        }
      }
    }
    p
  }

  /** [[TopKAgg]]'s reduce step on query qi's primitive slots: one
    * comparison once saturated, else a binary-search insert. */
  private def offer(p: Partial, qi: Int, k: Int, raw: Double, id: Long): Unit = {
    val s = TopKAgg.sortKey(raw)
    val base = qi * k
    val n = p.cnt(qi)
    if (n == k && !TopKAgg.beats(s, id, p.sims(base + n - 1), p.ids(base + n - 1))) return
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (TopKAgg.beats(p.sims(base + mid), p.ids(base + mid), s, id)) lo = mid + 1 else hi = mid
    }
    val moved = math.min(n, k - 1) - lo
    if (moved > 0) {
      System.arraycopy(p.sims, base + lo, p.sims, base + lo + 1, moved)
      System.arraycopy(p.ids, base + lo, p.ids, base + lo + 1, moved)
    }
    p.sims(base + lo) = s
    p.ids(base + lo) = id
    if (n < k) p.cnt(qi) = n + 1
  }
}
