package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.ops.{IvfIndex, IvfPqStore, PqIndex}

/**
 * The IVF-PQ index of `lake_mix`: serving from a persisted index beside
 * the snapshot table.  Set-up trains the quantizers on 90% of a seeded
 * embedding corpus and persists the cell-clustered index; the other 10%
 * starts outside it.  The ops are searches of 3 queries (k=10,
 * nprobe=4, rerank=60), inserts of a small batch of ids not in the index,
 * merge-on-read deletes of as many live ids, and compaction.  Every
 * search must return k distinct live ids per query; recall@10 against an
 * exact search over the live vectors is traced.
 */
final class VectorIndex(ctx: Ctx, vectors: Int, dim: Int) {
  import ctx._

  private val K = 10
  private val uri = s"$dir/vector/index"
  private val vecs = Data.embeddings(Data.Seed, vectors, dim)
  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))
  private def df(ids: Seq[Int]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      ids.map(i => Row(i.toLong, vecs(i))): _*), schema)
  private val corpus = df(vecs.indices)

  private val live = mutable.BitSet.empty

  def setup(): Unit = {
    rmrf(s"$dir/vector")
    val order = new scala.util.Random(Data.Seed).shuffle(vecs.indices.toList)
    val (_, base) = order.splitAt(vectors / 10)
    live.clear()
    live ++= base
    val baseDf = df(base.sorted)
    val ivf = IvfIndex.train(baseDf, "vec_id", "embedding", k = 8, iters = 3)
    val pq = PqIndex.train(baseDf, "vec_id", "embedding", m = 16, k = 32, iters = 4)
    IvfPqStore.persist(spark, uri, baseDf, "vec_id", "embedding", ivf, pq,
      targetRowsPerFile = vectors / 8)
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def search(r: scala.util.Random): () => Unit = {
    val qs = Seq.fill(3) {
      val base = vecs(r.nextInt(vectors))
      base.map(x => x + 0.05f * r.nextGaussian().toFloat)
    }
    val queries = spark.createDataFrame(java.util.Arrays.asList(
      qs.zipWithIndex.map { case (q, i) => Row(i.toLong, q) }: _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false),
          nullable = false))))
    () => op("search") {
      val res = layer("ops.search.plan")(IvfPqStore.search(spark, uri, corpus,
        queries, "vec_id", "embedding", "query_id", "qvec",
        k = K, nprobe = 4, rerank = 60))
      (res, layer("ops.search.exec")(res.collect()))
    } { case (res, rows) =>
      val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      var hits = 0
      qs.indices.foreach { qi =>
        val ids = byQuery.getOrElse(qi.toLong, Array.empty[Row])
          .map(_.getAs[Long]("neighbor_id").toInt)
        Check.ensure(ids.length == K && ids.distinct.length == K &&
          ids.forall(live.contains),
          s"query $qi returned ${ids.mkString(",")}: want $K distinct live ids")
        val exact = live.toSeq.sortBy(i => -dot(vecs(i), qs(qi))).take(K).toSet
        hits += ids.count(exact.contains)
      }
      trace.note("ops.search.exec", "recall", hits.toDouble / (K * qs.size))
      trace.note("ops.search.exec", "files", Plans.filesRead(res))
      trace.note("ops.search.exec", "live_files", liveFiles())
    }
  }

  private val batch = vectors / 400

  def insert(r: scala.util.Random): () => Unit = () => {
    val ids = r.shuffle(vecs.indices.filterNot(live.contains)).take(batch)
    op("insert") {
      layer("ops.insert")(IvfPqStore.insert(spark, uri, df(ids),
        "vec_id", "embedding"))
    } { _ => live ++= ids }
  }

  def delete(r: scala.util.Random): () => Unit = () => {
    val ids = r.shuffle(live.toSeq).take(batch)
    op("index_delete") {
      layer("ops.delete")(IvfPqStore.delete(spark, uri, ids.map(_.toLong)))
    } { _ => live --= ids }
  }

  def compact(): () => Unit = () => op("index_compact") {
    layer("ops.compact")(IvfPqStore.compact(spark, uri))
  }(_ => ())

  private def liveFiles(): Double = graft.io.Snapshots.filesDf(spark,
    s"${IvfPqStore.currentRoot(spark, uri)}/index").count().toDouble
}
