package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.Similarity

/** `vector_topk`: a fixed query batch answered by IVF and by LSH top-k,
  * alternating, over seeded vectors drawn around Gaussian clusters.
  * Ground truth is computed here in plain Scala and must equal
  * `Similarity.bruteForceTopK`.
  */
final class VectorWorkload(seed: Long, dir: String, vectors: Int, queries: Int,
    dims: Int = 64, clusters: Int = 32, k: Int = 10, nlist: Int = 8, nprobe: Int = 3,
    planes: Int = 6, probes: Int = 4) extends Workload {

  val name = "vector_topk"
  private val embPath = s"$dir/embeddings.parquet"
  private var vecs: Array[Array[Float]] = _
  private var qids: Seq[Long] = Nil
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private var ops = 0
  private val recall = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)

  def generate(spark: SparkSession): Map[String, Any] = {
    val rnd = new Random(seed)
    val centers = Array.fill(clusters)(Array.fill(dims)(rnd.nextGaussian()))
    vecs = Array.fill(vectors) {
      val c = centers(rnd.nextInt(clusters))
      c.map(x => (x + 0.9 * rnd.nextGaussian()).toFloat)
    }
    qids = rnd.shuffle((0L until vectors).toVector).take(queries).sorted
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, schema)
      .repartition(Main.Cores).write.mode("overwrite").parquet(embPath)
    truth = qids.map(q => q -> exactTopK(q).map(_._1)).toMap
    Map("vectors" -> vectors, "dims" -> dims, "clusters" -> clusters, "queries" -> queries,
      "k" -> k, "ivf_nlist" -> nlist, "ivf_nprobe" -> nprobe, "lsh_planes" -> planes,
      "lsh_probes" -> probes)
  }

  // ----------------------------------------------- plain-Scala reference

  private lazy val quant: Array[Array[Long]] = vecs.map(_.map(x =>
    java.math.BigDecimal.valueOf(x.toDouble * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()))
  private lazy val normSq: Array[Long] = quant.map(q => q.map(x => x * x).sum)

  private def cosine(a: Int, b: Int): Double = {
    var dot = 0L
    var i = 0
    while (i < dims) { dot += quant(a)(i) * quant(b)(i); i += 1 }
    dot.toDouble / (math.sqrt(normSq(a).toDouble) * math.sqrt(normSq(b).toDouble))
  }

  /** Top-k other vectors by cosine, ties to the lower id. */
  private def exactTopK(q: Long): Seq[(Long, Double)] =
    vecs.indices.iterator.filter(_ != q).map(i => (i.toLong, cosine(q.toInt, i))).toSeq
      .sortBy { case (i, c) => (-c, i) }.take(k)

  // ------------------------------------------------------------ checks

  /** Each query has ranks 1..k over distinct true neighbours with their
    * exact cosines in order; returns recall@k against the truth.
    */
  private def checkTopK(rows: Seq[Row], ledger: Ledger, what: String): Option[Double] = {
    val byQ = rows.groupBy(_.getLong(0))
    val wellFormed = byQ.keySet == qids.toSet && byQ.forall { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.map(_.getInt(1)) == (1 to k) &&
        sorted.map(_.getLong(2)).distinct.size == k &&
        sorted.forall(r => r.getLong(2) != q &&
          math.abs(r.getDouble(3) - BigDecimal(cosine(q.toInt, r.getLong(2).toInt))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    if (!ledger.check(what, wellFormed, s"malformed top-$k: ${rows.size} rows for ${byQ.size} queries"))
      None
    else Some(qids.map(q => byQ(q).map(_.getLong(2)).toSet.intersect(truth(q).toSet).size)
      .sum.toDouble / (qids.size * k))
  }

  private def checkBruteForce(spark: SparkSession, ledger: Ledger): Unit =
    ledger.attempt("brute force") {
      val got = Similarity.bruteForceTopK(spark.read.parquet(embPath), qids, k).collect().toSeq
      val same = got.groupBy(_.getLong(0)).forall { case (q, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getLong(2)) == truth(q) }
      ledger.check("brute force", same && got.size == qids.size * k,
        "bruteForceTopK differs from the plain-Scala top-k")
    }

  // ------------------------------------------------------------ operations

  private[perfbench] def ivf(spark: SparkSession): DataFrame =
    Similarity.ivfTopK(spark.read.parquet(embPath), qids, k, nlist, nprobe)

  private[perfbench] def lsh(spark: SparkSession): DataFrame =
    Similarity.lshTopK(spark.read.parquet(embPath), qids, k, planes, probes)

  /** Timed: one query batch, its answers written as parquet. */
  private[perfbench] def batch(spark: SparkSession, ledger: Ledger, method: String,
      query: SparkSession => DataFrame): Option[Double] = {
    ops += 1
    val path = s"$dir/out/$method-$ops.parquet"
    ledger.attempt(method) { Clock.time(query(spark).write.parquet(path))._2 }.flatMap { s =>
      checkTopK(spark.read.parquet(path).collect().toSeq, ledger, method).map { r =>
        recall(method) = recall(method) :+ r
        s
      }
    }
  }

  val opSeries = "ivf_query_s"
  val auxSeries = "lsh_query_s"

  def step(spark: SparkSession, ledger: Ledger): Map[String, Seq[Double]] =
    Map(opSeries -> batch(spark, ledger, "ivf", ivf).toSeq,
      auxSeries -> batch(spark, ledger, "lsh", lsh).toSeq)

  override def extraMetrics: Seq[(String, Any, String)] = Seq(
    ("ivf_recall_at_10", if (recall("ivf").isEmpty) Double.NaN else Stats.median(recall("ivf")), "ratio"),
    ("lsh_recall_at_10", if (recall("lsh").isEmpty) Double.NaN else Stats.median(recall("lsh")), "ratio"),
  )

  override def finalCheck(spark: SparkSession, ledger: Ledger): Unit =
    checkBruteForce(spark, ledger)

  def traced(spark: SparkSession, reps: Int, ledger: Ledger,
      runId: String): (Map[String, Double], Seq[Map[String, Any]]) = {
    val walls = new Walls
    val shallow = new Tracer(spark, s"$runId-shallow")
    val deep = new Tracer(spark, s"$runId-layers")
    var eager = 0.0
    (1 to reps).foreach { i =>
      walls.inTurn(i) {
        walls.untraced += batch(spark, ledger, "ivf", ivf).getOrElse(0.0) +
          batch(spark, ledger, "lsh", lsh).getOrElse(0.0)
      } {
        walls.shallow += shallow.span("vector.ivf") { batch(spark, ledger, "ivf", ivf) }
          .getOrElse(0.0) + shallow.span("vector.lsh") { batch(spark, ledger, "lsh", lsh) }
          .getOrElse(0.0)
      }
      ledger.attempt("layer-traced batches") {
        val bd = new Boundary(spark, s"$dir/boundary/$i")
        val emb = spark.read.parquet(embPath)
        val ((ivfOut, lshOut), s) = Clock.time {
          val ivfOut = deep.span("similarity.ivf") {
            val (cents, build) = Clock.time(deep.span("similarity.index_build") {
              Similarity.trainedCentroids(emb, nlist)
            })
            eager += build
            deep.span("similarity.scan") {
              bd(Similarity.ivfTopK(emb, qids, k, nlist, nprobe,
                centroidsOverride = Some(cents)), "ivf")
            }
          }
          val lshOut = deep.span("similarity.lsh") {
            deep.span("similarity.lsh_scan") { bd(lsh(spark), "lsh") }
          }
          (ivfOut, lshOut)
        }
        walls.layered += s
        checkTopK(ivfOut.collect().toSeq, ledger, "layer-traced ivf")
        checkTopK(lshOut.collect().toSeq, ledger, "layer-traced lsh")
      }
    }
    val sh = shallow.finish()
    val dp = deep.finish()
    val n = reps.toDouble
    def candidates(span: String) = dp.planNodes(dp.subtree(span))
      .filter(x => x.kind == "join" && x.detail == "Inner" && x.cols("qid") && x.cols("vec_id"))
      .map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n
    val scans = sh.planNodes().filter(x => x.kind == "scan" && x.detail.contains(embPath))
    val ivfCand = candidates("similarity.scan")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val m = Map(
      "sources.scan_bytes" -> scans.map(_.metrics.getOrElse("filesSize", 0L)).sum / n,
      "sources.scan_rows" -> scans.map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n,
      "sources.files_read" -> scans.map(_.metrics.getOrElse("numFiles", 0L)).sum / n,
      "sources.scan_s" -> scans.map(_.metrics.getOrElse("scanTime", 0L)).sum / 1e3 / n,
      "similarity.index_build_s" -> dp.total("similarity.index_build") / n,
      "similarity.candidates_per_query" -> ivfCand / qids.size,
      "similarity.candidates_per_result" -> ivfCand / (qids.size * k),
      "similarity.scan_s" -> dp.self("similarity.scan") / n,
      "similarity.lsh_candidates_per_query" -> candidates("similarity.lsh_scan") / qids.size,
      "similarity.lsh_scan_s" -> dp.self("similarity.lsh_scan") / n,
      "similarity.ivf_recall_at_10" -> med(recall("ivf")),
      "similarity.lsh_recall_at_10" -> med(recall("lsh")),
    ) ++ Layers.spark(sh, n) ++ Layers.materialize(dp, eager, n) ++
      Layers.overhead(walls, dp, n)
    (m, sh.toJson ++ dp.toJson)
  }
}
