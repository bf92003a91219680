package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.operators.{ChangeLog, Merge}
import graft.pipeline.{EtlRun, RunReport}
import graft.schema.Catalog
import graft.sources.Readers

/** `etl_trickle`: back-to-back change-log cycles over a seeded registry
  * (closed loop, one caller), each followed by three keyed reads of the
  * touched keys from the published targets, one downstream reader after
  * another.
  */
final class EtlWorkload(seed: Long, dir: String, tracing: Boolean, farmers: Int,
    batchSize: Int, lookupKeys: Int = 100) extends Workload {
  import EtlGen.TableNames

  val name = "etl_trickle"
  private val srcDir = s"$dir/src"
  private val reads = 3
  // untraced, shallow-traced and layer-traced runs publish to their own
  // copies of the targets; all three replay the same batches
  private[perfbench] val tgt = Seq("a", "b", "c").map(x => s"$dir/tgt-$x")
  private val copies = if (tracing) tgt else tgt.take(1)
  private var gen: EtlGen = _
  private var batchNo = 0
  private val pool = Executors.newFixedThreadPool(4)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def generate(spark: SparkSession): Map[String, Any] = {
    gen = new EtlGen(seed, farmers, batchSize)
    val writes = TableNames.flatMap { t =>
      val schema = gen.schema(t)
      val initial = gen.targetRows(t)
      Future(spark.createDataFrame(gen.sourceRows(t), schema).write.mode("overwrite")
        .parquet(s"$srcDir/$t.parquet")) +:
        copies.map(d => Future(spark.createDataFrame(initial, schema).write.mode("overwrite")
          .parquet(s"$d/$t.parquet")))
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    Map(
      "farmers" -> farmers,
      "tables" -> TableNames.size,
      "source_rows" -> TableNames.map(t => t -> gen.source(t).size).toMap,
      "target_rows" -> TableNames.map(gen.target(_).valuesIterator.map(_.size).sum).sum,
      "batch_rows" -> batchSize,
      "zipf_s" -> gen.zipfS,
      "tables_per_batch" -> "farmparcelownership (+ farmparcel by cascade), one one-to-one, one one-to-many, in turn",
      "reads_per_cycle" -> reads,
      "invalid_frac" -> gen.invalidFrac,
      "drift_frac" -> gen.driftFrac,
    )
  }

  /** Next batch: mutate and rewrite the changed sources, write the log. */
  private[perfbench] def prepare(spark: SparkSession): (Batch, String) = {
    val b = gen.nextBatch()
    batchNo += 1
    published ++= b.changedTables
    val logPath = s"$dir/log/$batchNo.parquet"
    import scala.jdk.CollectionConverters._
    val logRows = b.rows.map(r => org.apache.spark.sql.Row(r.logId, r.key, r.table)).asJava
    val writes = Future(spark.createDataFrame(logRows, EtlGen.LogSchema)
      .write.mode("overwrite").parquet(logPath)) +:
      b.changedTables.toSeq.map(t => Future(spark.createDataFrame(gen.sourceRows(t),
        gen.schema(t)).write.mode("overwrite").parquet(s"$srcDir/$t.parquet")))
    Await.result(Future.sequence(writes), Duration.Inf)
    (b, logPath)
  }

  private def checkReport(b: Batch, r: RunReport, ledger: Ledger): Unit = {
    // every table sync is an operation; a sync that errored failed
    r.tables.foreach { t =>
      ledger.attempted += 1
      t.error.foreach(e => ledger.fail(s"sync ${t.table}", e))
    }
    ledger.check("run report", r.totalLogRecords == b.rows.size &&
      r.skipped == b.invalid,
      s"total ${r.totalLogRecords} (want ${b.rows.size}), skipped ${r.skipped} (want ${b.invalid})")
  }

  private def lookupSet(b: Batch): Seq[String] = b.keys.sorted.take(lookupKeys)

  /** The downstream reader: the given farmers' rows in every target the
    * cycle published.
    */
  private[perfbench] def lookup(spark: SparkSession, tgtDir: String, b: Batch)
      : Map[String, Seq[String]] = {
    val keys = lookupSet(b)
    val parcels = keys.flatMap(gen.parcelsOf).distinct
    b.changedTables.toSeq.sorted.map { t =>
      val ks = if (t == "farmparcel") parcels else keys
      val df = Readers.table(spark, tgtDir, t)
        .filter(col(Catalog.specFor(t).key).isin(ks: _*))
      t -> Canon.rows(df)
    }.toMap
  }

  private def expected(t: String, keys: Seq[String]): Seq[String] = {
    val ks = if (t == "farmparcel") keys.flatMap(gen.parcelsOf).distinct else keys
    val names = gen.schema(t).fieldNames.toSeq
    ks.flatMap(k => gen.target(t).getOrElse(k, Vector.empty)).map(r => Canon.row(names, r.toSeq))
  }

  private def checkLookup(got: Map[String, Seq[String]], b: Batch,
      ledger: Ledger, what: String): Unit =
    got.keys.foreach { t =>
      val want = expected(t, lookupSet(b))
      ledger.check(s"$what $t", got(t).sorted == want.sorted,
        s"${got(t).size} rows read, ${want.size} expected, " +
          s"${got(t).toSet.diff(want.toSet).size} unexpected")
    }

  private[perfbench] def run(spark: SparkSession, tgtDir: String, log: String): RunReport =
    EtlRun.onParquet(spark, srcDir, tgtDir).run(spark.read.parquet(log))

  val opSeries = "etl_cycle_p50_s"
  val auxSeries = "etl_lookup_p50_ms"
  // the cycle after the warm-up is still ~10 % slower as the JIT warms
  override def settleIterations: Int = 1

  /** One cycle on the untraced copy: sync, then the keyed reads. */
  def step(spark: SparkSession, ledger: Ledger): Map[String, Seq[Double]] =
    cycle(spark, ledger, reads)

  private def cycle(spark: SparkSession, ledger: Ledger,
      reads: Int): Map[String, Seq[Double]] = {
    val (b, log) = prepare(spark)
    val c = ledger.attempt("cycle") { Clock.time(run(spark, tgt.head, log)) }
    c.foreach { case (r, _) => checkReport(b, r, ledger) }
    val l = (1 to reads).flatMap { _ =>
      val l = ledger.attempt("lookup") { Clock.time(lookup(spark, tgt.head, b)) }
      l.foreach { case (rows, _) => checkLookup(rows, b, ledger, "lookup") }
      l.map(_._2)
    }
    Map(opSeries -> c.map(_._2).toSeq, auxSeries -> l)
  }

  // the warm-up batch names all twelve tables: one read compiles every
  // read plan
  override def warmUp(spark: SparkSession, ledger: Ledger): Unit =
    if (!tracing) cycle(spark, ledger, reads = 1)
    else {
      // a traced run keeps all three copies on the same batches
      val (b, log) = prepare(spark)
      Seq(tgt.head, tgt(1)).foreach(d =>
        ledger.attempt("cycle") { run(spark, d, log) }.foreach(checkReport(b, _, ledger)))
      ledger.attempt("layer-composed cycle") {
        composed(spark, tgt(2), log, NoSpans, new Boundary(spark, s"$dir/boundary/warm"))
      }
    }

  // tables some cycle published; the others are never written
  private val published = scala.collection.mutable.SortedSet[String]()

  /** Full-table digests of every published target copy against the model. */
  override def finalCheck(spark: SparkSession, ledger: Ledger): Unit = {
    for (d <- copies; t <- published) {
      val names = gen.schema(t).fieldNames.toSeq
      val want = Canon.digest(gen.target(t).valuesIterator.flatten
        .map(r => Canon.row(names, r.toSeq)).toSeq)
      val got = Canon.digest(Canon.rows(spark.read.parquet(s"$d/$t.parquet")))
      ledger.check(s"target $t", got == want, s"digest $got, expected $want")
    }
    pool.shutdown()
  }

  /** The cycle composed from the layers' public calls, each layer's
    * output materialized at its span boundary. Must publish the same
    * targets as [[EtlRun.run]].
    */
  private def composed(spark: SparkSession, tgtDir: String, log: String,
      sp: Spans, boundary: Boundary): Unit = sp.span("pipeline.EtlRun") {
    val logDf = spark.read.parquet(log)
    val (tables, cascaded) = sp.span("etlrun.bookkeeping") {
      logDf.count()
      val valid = logDf.filter(col("rsbsa_no").isNotNull && col("table").isNotNull)
      valid.count()
      val named = valid.select("table").distinct().collect().map(_.getString(0)).toSeq.sorted
      val tables =
        if (named.contains("farmparcelownership") && !named.contains("farmparcel"))
          named :+ "farmparcel"
        else named
      (tables, EtlRun.cascadeLog(valid))
    }
    tables.foreach { t =>
      val spec = Catalog.specFor(t)
      val extract = sp.span("operators.ChangeLog") {
        val keys = boundary(ChangeLog.keysForTable(cascaded, t), s"keys-$t")
        val ex =
          if (t == "farmparcel")
            ChangeLog.twoHopExtract(spark.read.parquet(s"$srcDir/farmparcel.parquet"),
              spark.read.parquet(s"$srcDir/farmparcelownership.parquet")
                .select("rsbsa_no", "parcel_id"),
              keys, "rsbsa_no", "parcel_id")
          else
            ChangeLog.keyedExtract(spark.read.parquet(s"$srcDir/$t.parquet"),
              keys.withColumnRenamed("rsbsa_no", spec.key), spec.key)
        boundary(ex, s"extract-$t")
      }
      val normalized = sp.span("functions.Normalize") {
        boundary(Normalize.forTable(extract, t), s"incoming-$t")
      }
      val merged = sp.span("operators.Merge") {
        boundary(Merge.merge(t, spark.read.parquet(s"$tgtDir/$t.parquet"), normalized),
          s"merged-$t")
      }
      sp.span("publish") { Merge.atomicOverwrite(merged, s"$tgtDir/$t.parquet") }
    }
  }

  def traced(spark: SparkSession, reps: Int, ledger: Ledger,
      runId: String): (Map[String, Double], Seq[Map[String, Any]]) = {
    val walls = new Walls
    val shallow = new Tracer(spark, s"$runId-shallow")
    val deep = new Tracer(spark, s"$runId-layers")
    var syncErrors = 0
    (1 to reps).foreach { i =>
      val (b, log) = prepare(spark)
      walls.inTurn(i) {
        ledger.attempt("cycle") { Clock.time(run(spark, tgt.head, log)) }.foreach {
          case (r, s) => checkReport(b, r, ledger); walls.untraced += s
        }
      } {
        ledger.attempt("traced cycle") {
          Clock.time(shallow.span("pipeline.EtlRun") { run(spark, tgt(1), log) })
        }.foreach { case (r, s) =>
          checkReport(b, r, ledger); syncErrors += r.errors; walls.shallow += s
        }
      }
      ledger.attempt("lookup") {
        shallow.span("sources.Readers") { lookup(spark, tgt(1), b) }
      }.foreach(rows => checkLookup(rows, b, ledger, "traced lookup"))
      ledger.attempt("layer-traced cycle") {
        Clock.time(composed(spark, tgt(2), log, deep, new Boundary(spark, s"$dir/boundary/$i")))
      }.foreach { case (_, s) => walls.layered += s }
      ledger.attempt("lookup") {
        lookup(spark, tgt(2), b)
      }.foreach(rows => checkLookup(rows, b, ledger, "traced lookup"))
    }
    val sh = shallow.finish()
    val dp = deep.finish()
    val n = reps.toDouble
    val isInput = (p: String) => p.contains(s"$dir/src") || p.contains(s"$dir/tgt-")
    val scans = sh.planNodes().filter(x => x.kind == "scan" && isInput(x.detail))
    val changelog = dp.planNodes(dp.subtree("operators.ChangeLog"))
    val mergeNodes = dp.planNodes(dp.subtree("operators.Merge"))
    val publishWrites = dp.planNodes(dp.subtree("publish")).filter(_.kind == "write")
    val incomingBytes = dp.planNodes(dp.subtree("functions.Normalize"))
      .filter(_.kind == "write").map(_.metrics.getOrElse("numOutputBytes", 0L)).sum
    val published = publishWrites.map(_.metrics.getOrElse("numOutputBytes", 0L)).sum
    val m = Map(
      "sources.scan_bytes" -> scans.map(_.metrics.getOrElse("filesSize", 0L)).sum / n,
      "sources.scan_rows" -> scans.map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n,
      "sources.files_read" -> scans.map(_.metrics.getOrElse("numFiles", 0L)).sum / n,
      "sources.scan_s" -> scans.map(_.metrics.getOrElse("scanTime", 0L)).sum / 1e3 / n,
      "changelog.keys" -> Boundary.rows(changelog, "keys") / n,
      "changelog.extracted_rows" -> Boundary.rows(changelog, "extract") / n,
      "changelog.self_s" -> dp.self("operators.ChangeLog") / n,
      "normalize.self_s" -> dp.self("functions.Normalize") / n,
      "merge.target_rows_read" -> mergeNodes.filter(x => x.kind == "scan" &&
        x.detail.contains(tgt(2))).map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n,
      "merge.rows_retained" -> mergeNodes.filter(x => x.kind == "join" && x.detail == "LeftAnti")
        .map(_.metrics.getOrElse("numOutputRows", 0L)).sum / n,
      "merge.rows_written" -> Boundary.rows(mergeNodes, "merged") / n,
      "merge.self_s" -> dp.self("operators.Merge") / n,
      "publish.bytes_written" -> published / n,
      "publish.files_written" -> publishWrites.map(_.metrics.getOrElse("numFiles", 0L)).sum / n,
      "publish.write_amp" -> (if (incomingBytes > 0) published.toDouble / incomingBytes else 0.0),
      "publish.self_s" -> dp.self("publish") / n,
      "etlrun.jobs_per_cycle" -> sh.sum("jobs", sh.subtree("pipeline.EtlRun")) / n,
      "etlrun.bookkeeping_s" -> dp.self("etlrun.bookkeeping") / n,
      "etlrun.tables_failed" -> syncErrors / n,
    ) ++ Layers.spark(sh, n) ++ Layers.overhead(walls, dp, n)
    (m, sh.toJson ++ dp.toJson)
  }
}
