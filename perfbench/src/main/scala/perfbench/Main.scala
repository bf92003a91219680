package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.GraftSession
import graft.plans.GraftFunctions

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --out <dir>
  * }}}
  *
  * Both modes set up once: session, function registration, one checked
  * warm-up iteration. Untraced (`--trace 0`) then repeats the
  * workload's iterations for `--seconds` and reports the set-up time
  * and medians; traced (`--trace 1`) runs [[Workload.traced]] and
  * reports every per-layer metric.
  *
  * Detail lines go to stdout first; the last stdout line is one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. The full
  * record (inputs, samples, spans) is written under `--out`.
  */
object Main {
  val Cores = 4
  val TracedReps = 2

  def workload(name: String, seed: Long, dir: String, tracing: Boolean): Workload = {
    def corpus = new CorpusWorkload(seed, s"$dir/corpus", docs = 600, deltaDocs = 150)
    def vectors = new VectorWorkload(seed, s"$dir/vectors", vectors = 2000, queries = 50)
    name match {
      case "etl_trickle" =>
        new EtlWorkload(seed, dir, tracing, farmers = 1000, batchSize = 40)
      case "corpus_topk" =>
        new Paired(name, corpus, vectors, "curation_cycle_s", "query_batch_s")
      case "corpus_curate" => corpus
      case "vector_topk" => vectors
      case other => sys.error(s"unknown workload $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val out = opt("out")
    val t0 = System.nanoTime()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase(p: String): Unit = phases(p) = (System.nanoTime() - t0) / 1e9
    val w = workload(name, seed, s"${opt("data")}/$name-$seed", tracing)
    val ledger = new Ledger

    // set-up: session, function registration and one checked warm-up
    // iteration; input generation is timed on its own
    val c0 = CodeGenerator.compileTime
    val s0 = System.nanoTime()
    val spark = GraftSession.local(Cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val (inputs, genS) = Clock.time(w.generate(spark))
    w.warmUp(spark, ledger)
    val setupS = (System.nanoTime() - s0) / 1e9 - genS
    val codegenS = (CodeGenerator.compileTime - c0) / 1e9
    phase("setup")
    val hostSpeed = new HostSpeed(spark, s"${opt("data")}/host-speed")
    if (!tracing) hostSpeed.warm()

    val runId = s"$name-$seed-${System.currentTimeMillis()}"
    val (metrics, details, extra) =
      if (!tracing) {
        val (_, settleS) = Clock.time((1 to w.settleIterations).foreach(_ => w.step(spark, ledger)))
        phase("settle")
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        val series = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
        while (System.nanoTime() < deadline) {
          Clock.settleHeap()
          hostSpeed.sample()
          w.step(spark, ledger).foreach { case (k, s) =>
            series(k) = series.getOrElse(k, Vector.empty) ++ s }
        }
        (1 to 4).foreach(_ => hostSpeed.sample())
        phase("measure")
        w.finalCheck(spark, ledger)
        phase("final_check")
        def p50(k: String) = series.get(k).filter(_.nonEmpty).fold(Double.NaN)(Stats.median)
        // the gated operation times at the reference host's speed (the
        // raw ones are printed and recorded too); set-up precedes the
        // host-speed samples, so it is reported as measured
        val raw = Seq(
          ("op_p50_ms", p50(w.opSeries) * 1e3, "ms"),
          ("aux_p50_ms", p50(w.auxSeries) * 1e3, "ms"),
        )
        val e2e = ("setup_s", setupS, "s") +:
          raw.map { case (n, v, u) => (n, v * hostSpeed.scale, u) }
        // every series by name: its median (in ms when the name says
        // so), its sample count, and the tail of the op series
        val perSeries = series.toSeq.flatMap { case (k, xs) =>
          Seq((k, if (k.endsWith("_ms")) p50(k) * 1e3 else p50(k), if (k.endsWith("_ms")) "ms" else "s"),
            (k.replaceAll("(_p50)?_m?s$", "") + "_samples", xs.size, "count"))
        }
        val tail = Stats.tail(series.getOrElse(w.opSeries, Vector.empty))
        val tailName = w.opSeries.replaceAll("(_p50)?_s$", "") + "_tail_s"
        val details = perSeries ++ Seq(
          (tailName, tail.map(_._2), "s"),
          (tailName.stripSuffix("_s") + "_percentile", tail.map(_._1), "pct"),
        ) ++ w.extraMetrics ++ Seq(
          ("input_gen_s", genS, "s"),
          ("settle_s", settleS, "s"),
          ("failed_frac", ledger.failedFrac, "ratio"),
          ("spark.codegen_compile_s", codegenS, "s"),
          ("host_speed_job_s", Stats.median(hostSpeed.all), "s"),
          ("host_speed_scale", hostSpeed.scale, "ratio"),
        ) ++ raw.map { case (n, v, u) => (n.replaceFirst("_", "_raw_"), v, u) }
        (e2e, details, Map("series_s" -> series, "host_speed_s" -> hostSpeed.all))
      } else {
        val (layer, spans) = w.traced(spark, TracedReps, ledger, runId)
        w.finalCheck(spark, ledger)
        val all = layer + ("spark.codegen_compile_s" -> codegenS)
        val m = Layers.catalogue.map { case (n, unit, _) => (n, all.getOrElse(n, 0.0), unit) }
        (m, Seq(("failed_frac", ledger.failedFrac, "ratio")), Map("spans" -> spans))
      }
    spark.stop()
    phase("stop")

    (details ++ metrics).distinct.foreach { case (n, v, unit) =>
      println(s"perfbench $name ${"%-34s".format(n)} ${Json(v)} $unit")
    }
    ledger.errors.foreach(e => println(s"perfbench $name FAILED $e"))
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> tracing,
      "run_id" -> runId, "inputs" -> inputs,
      "metrics" -> (details ++ metrics).map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "attempted" -> ledger.attempted, "failed" -> ledger.failed, "errors" -> ledger.errors,
      "phases_s" -> phases,
    ) ++ extra
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, s"$name-seed$seed-trace${if (tracing) 1 else 0}.json"),
      Json(record).getBytes(StandardCharsets.UTF_8))
    println(Json(Map(
      "correct" -> (ledger.failed == 0),
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
    )))
    System.exit(0)
  }
}
