package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Bpe, Dedup, Packing, TextAnalysis}

/** `corpus_curate`: one curation pass (exact dedup → n-gram Jaccard
  * pairs → connected-component survivors → repeated-span removal →
  * language and quality filters → BPE → packing) and one ingest screen
  * of a delta batch against the corpus, alternating.
  */
final class CorpusWorkload(seed: Long, dir: String, docs: Int, deltaDocs: Int,
    threshold: Double = 0.7, seqLen: Int = 256, numMerges: Int = 100) extends Workload {

  val name = "corpus_curate"
  private val docsPath = s"$dir/docs.parquet"
  private val deltaPath = s"$dir/delta.parquet"
  private var gen: CorpusGen = _
  private var merges: Seq[(String, String)] = Nil
  private var ops = 0
  // the first checked pass's output digest; every later pass must match
  private var packDigest: Option[(Long, Long)] = None
  // the last traced pass's token and chunk totals
  private var packStats: Row = _

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def generate(spark: SparkSession): Map[String, Any] = {
    gen = new CorpusGen(seed, docs, deltaDocs)
    merges = gen.merges(numMerges)
    def write(rows: Seq[(Long, String)], path: String): Unit = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, docSchema)
        .repartition(Main.Cores).write.mode("overwrite").parquet(path)
    }
    write(gen.history, docsPath)
    write(gen.delta, deltaPath)
    gen.properties ++ Map("jaccard_threshold" -> threshold, "bpe_merges" -> merges.size,
      "seq_len" -> seqLen)
  }

  /** The pass as the engine's public calls. With a boundary, each stage
    * runs in its own span and its output is materialized there; the
    * time spent inside the calls themselves (eager jobs) is returned.
    */
  private def pass(spark: SparkSession, sp: Spans, boundary: Option[Boundary])
      : (DataFrame, DataFrame, Double) = {
    var eager = 0.0
    def step(layer: String)(call: => DataFrame): DataFrame = boundary match {
      case None => call
      case Some(b) => sp.span(layer) {
        val (df, s) = Clock.time(call)
        eager += s
        b(df, layer)
      }
    }
    val input = spark.read.parquet(docsPath)
    val exact = step("dedup.exact")(Dedup.exactSurvivors(input))
    val pairs = step("dedup.jaccard")(Dedup.ngramJaccardPairs(exact, 3, threshold))
    val survivors = step("dedup.cc") {
      val cc = Dedup.connectedComponents(pairs.select("a_id", "b_id"))
      exact.join(cc.filter(col("doc_id") =!= col("component")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
    val clean = step("dedup.spans")(Dedup.removeRepeatedSpans(survivors, 8, 5))
    val kept = step("text.filter")(clean.filter(
      TextAnalysis.langId(col("clean_text")) === "en" &&
        TextAnalysis.gopherKeep(col("clean_text"))))
    val encoded = step("bpe.encode")(kept.select(col("doc_id"),
      concat_ws(" ", Bpe.encode(col("clean_text"), merges)).as("text")))
    val packed = step("pack")(Packing.packChunks(encoded, seqLen, 16, "doc_id", "text"))
    (packed, pairs, eager)
  }

  private def screen(spark: SparkSession): DataFrame =
    Dedup.crossJaccardPairs(spark.read.parquet(deltaPath), spark.read.parquet(docsPath),
      3, threshold)

  private def nextOut(kind: String): String = { ops += 1; s"$dir/out/$kind-$ops.parquet" }

  /** Timed: the pass, its output written as parquet. */
  private[perfbench] def curate(spark: SparkSession, ledger: Ledger): Option[Double] = {
    val path = nextOut("pack")
    ledger.attempt("curate") {
      Clock.time(pass(spark, NoSpans, None)._1.write.parquet(path))._2
    }.filter(_ => checkPack(spark.read.parquet(path), ledger))
  }

  /** Timed: the ingest screen, its pairs written as parquet. */
  private[perfbench] def deltaScreen(spark: SparkSession, ledger: Ledger): Option[Double] = {
    val path = nextOut("screen")
    ledger.attempt("delta screen") {
      Clock.time(screen(spark).write.parquet(path))._2
    }.filter(_ => checkScreen(spark.read.parquet(path), ledger))
  }

  // ----------------------------------------------------------- checks

  private lazy val exactSurvivorIds: Set[Long] =
    gen.history.groupBy(_._2).valuesIterator.map(_.map(_._1).min).toSet

  private def jaccardOf(a: Long, b: Long): Double =
    CorpusGen.jaccard(CorpusGen.shingles(gen.text(a)), CorpusGen.shingles(gen.text(b)))

  // planted history pairs at or above the threshold: the same connected
  // component, so at most one of each may survive the pass
  private lazy val strongPairs: Seq[(Long, Long)] =
    gen.plantedPairs.toSeq.filter { case (a, b) => b < docs && jaccardOf(a, b) >= threshold }

  /** Reported pairs `(a, b, inter, jaccard)`: each must carry the exact
    * shared-shingle count and the Jaccard (the engine rounds it to 4
    * places) recomputed here, at or above the threshold; and every
    * planted pair at or above the threshold must be reported.
    */
  private def checkPairSet(got: Seq[(Long, Long, Long, Double)], planted: Seq[(Long, Long)],
      ledger: Ledger, what: String): Boolean = {
    val bad = got.filterNot { case (a, b, inter, j) =>
      val (sa, sb) = (CorpusGen.shingles(gen.text(a)), CorpusGen.shingles(gen.text(b)))
      val want = CorpusGen.jaccard(sa, sb)
      sa.count(sb) == inter && want >= threshold &&
        math.abs(BigDecimal(want).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble - j) < 1e-9
    }
    val found = got.map { case (a, b, _, _) => (math.min(a, b), math.max(a, b)) }.toSet
    val missed = planted.filter { case (a, b) => !found((a, b)) && jaccardOf(a, b) >= threshold }
    ledger.check(s"$what pairs", bad.isEmpty && missed.isEmpty,
      s"${bad.size} of ${got.size} reported pairs fail the recomputed Jaccard; " +
        s"${missed.size} planted pairs at or above $threshold not found")
  }

  /** Near-duplicate pairs among the exact-dedup survivors. */
  private def checkPairs(pairs: DataFrame, ledger: Ledger): Boolean =
    checkPairSet(pairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))),
      gen.plantedPairs.toSeq.filter { case (a, b) =>
        b < docs && exactSurvivorIds(a) && exactSurvivorIds(b) },
      ledger, "corpus")

  private def checkScreen(df: DataFrame, ledger: Ledger): Boolean =
    checkPairSet(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))),
      gen.plantedPairs.toSeq.filter(_._2 >= docs), ledger, "delta")

  /** The packed layout is a consistent prefix sum, keeps at most one
    * document of any planted duplicate set, and every pass produces
    * the same output.
    */
  private def checkPack(df: DataFrame, ledger: Ledger): Boolean = {
    val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val starts = rows.scanLeft(0L)(_ + _._2)
    val layout = rows.zip(starts).forall { case ((_, n, t, first, last, off), s) =>
      t == s && first == t / seqLen && last == (t + n - 1) / seqLen && off == t % seqLen
    }
    val kept = rows.map(_._1).toSet
    val dups = strongPairs.count { case (a, b) => kept(a) && kept(b) } +
      gen.history.groupBy(_._2).valuesIterator.count(_.count(d => kept(d._1)) > 1)
    val digest = Canon.digest(rows.map(_.toString))
    val same = packDigest.forall(_ == digest)
    if (packDigest.isEmpty) packDigest = Some(digest)
    ledger.check("pack", layout && dups == 0 && same && rows.nonEmpty,
      s"layout ok: $layout, duplicate survivors: $dups, same as first pass: $same, rows: ${rows.size}")
  }

  val opSeries = "curate_s"
  val auxSeries = "delta_screen_s"

  def step(spark: SparkSession, ledger: Ledger): Map[String, Seq[Double]] =
    Map(opSeries -> curate(spark, ledger).toSeq, auxSeries -> deltaScreen(spark, ledger).toSeq)

  /** The Jaccard pairs of a fresh pass, against the plain-Scala reference. */
  override def finalCheck(spark: SparkSession, ledger: Ledger): Unit =
    ledger.attempt("jaccard pairs") {
      checkPairs(Dedup.ngramJaccardPairs(
        Dedup.exactSurvivors(spark.read.parquet(docsPath)), 3, threshold), ledger)
    }

  def traced(spark: SparkSession, reps: Int, ledger: Ledger,
      runId: String): (Map[String, Double], Seq[Map[String, Any]]) = {
    val walls = new Walls
    val shallow = new Tracer(spark, s"$runId-shallow")
    val deep = new Tracer(spark, s"$runId-layers")
    var eager = 0.0
    (1 to reps).foreach { i =>
      walls.inTurn(i) {
        val p = curate(spark, ledger)
        val s = deltaScreen(spark, ledger)
        walls.untraced += p.getOrElse(0.0) + s.getOrElse(0.0)
      } {
        val (_, shallowS) = Clock.time {
          ledger.attempt("traced curate") {
            shallow.span("corpus.curate") {
              pass(spark, NoSpans, None)._1.write.parquet(nextOut("pack"))
            }
          }
          ledger.attempt("traced screen") {
            shallow.span("corpus.screen") { screen(spark).write.parquet(nextOut("screen")) }
          }
        }
        walls.shallow += shallowS
      }
      ledger.attempt("layer-traced curate") {
        val b = new Boundary(spark, s"$dir/boundary/$i")
        val ((packed, _, e), s1) = Clock.time(pass(spark, deep, Some(b)))
        eager += e
        val (pairs, s2) = Clock.time(deep.span("dedup.cross") {
          val (df, s) = Clock.time(screen(spark))
          eager += s
          b(df, "dedup.cross")
        })
        walls.layered += s1 + s2
        checkPack(packed, ledger)
        checkScreen(pairs, ledger)
        packed
      }.foreach { packed =>
        if (i == reps) packStats = packed.agg(sum("n_tokens"), max("last_chunk")).head()
      }
    }
    val sh = shallow.finish()
    val dp = deep.finish()
    val n = reps.toDouble
    val dedupSpans = dp.subtree("dedup.jaccard") ++ dp.subtree("dedup.cross")
    val dedupNodes = dp.planNodes(dedupSpans)
    val shingleRows = dedupNodes.filter(x => x.kind == "generate" && x.detail == "sh")
      .map(_.metrics.getOrElse("numOutputRows", 0L)).sum
    val candidates = dedupNodes.filter(x => x.kind == "join" &&
      Set("sh", "a_id", "b_id").subsetOf(x.cols)).map(_.metrics.getOrElse("numOutputRows", 0L)).sum
    val verified = Boundary.rows(dedupNodes)
    val scans = sh.planNodes().filter(x => x.kind == "scan" &&
      (x.detail.contains(docsPath) || x.detail.contains(deltaPath)))
    val tokens = if (packStats == null) 0.0 else packStats.getLong(0).toDouble
    val chunks = if (packStats == null) 0.0 else packStats.getLong(1) + 1.0
    val m = Map(
      "sources.scan_bytes" -> scans.map(_.metrics.getOrElse("filesSize", 0L)).sum / n,
      "sources.scan_rows" -> scans.map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n,
      "sources.files_read" -> scans.map(_.metrics.getOrElse("numFiles", 0L)).sum / n,
      "sources.scan_s" -> scans.map(_.metrics.getOrElse("scanTime", 0L)).sum / 1e3 / n,
      "dedup.shingle_rows" -> shingleRows / n,
      "dedup.candidate_pairs" -> candidates / n,
      "dedup.verified_pairs" -> verified / n,
      "dedup.verify_yield" -> (if (candidates > 0) verified / candidates else 0.0),
      "dedup.cc_rounds" -> dp.sum("checkpoints", dp.subtree("dedup.cc")) / n,
      "dedup.exact_self_s" -> dp.self("dedup.exact") / n,
      "dedup.jaccard_self_s" -> dp.self("dedup.jaccard") / n,
      "dedup.cc_self_s" -> dp.self("dedup.cc") / n,
      "dedup.spans_self_s" -> dp.self("dedup.spans") / n,
      "dedup.cross_self_s" -> dp.self("dedup.cross") / n,
      "text.self_s" -> dp.self("text.filter") / n,
      "bpe.tokens_out" -> tokens,
      "bpe.self_s" -> dp.self("bpe.encode") / n,
      "pack.chunks_out" -> chunks,
      "pack.fill_ratio" -> (if (chunks > 0) tokens / (chunks * seqLen) else 0.0),
    ) ++ Layers.spark(sh, n) ++ Layers.materialize(dp, eager, n) ++
      Layers.overhead(walls, dp, n)
    (m, sh.toJson ++ dp.toJson)
  }
}
