package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a traced run opens spans; untraced runs use [[NoSpans]]. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** Attempted and failed operations, and why each failure happened. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Run one operation; a throw counts as a failure and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Record a failed check against an operation already attempted. */
  def fail(what: String, why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${why.take(300)}"
  }

  def check(what: String, ok: Boolean, why: => String): Boolean = {
    if (!ok) fail(what, why)
    ok
  }

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Order-independent comparison of row sets. */
object Canon {

  def value(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  /** A row as text, columns in name order, so column order is free. */
  def row(names: Seq[String], values: Seq[Any]): String =
    names.zip(values).sortBy(_._1).map { case (n, v) => n + "=" + value(v) }
      .mkString("\u0001")

  def rows(df: DataFrame): Seq[String] = {
    val names = df.columns.toSeq
    df.collect().toSeq.map(r => row(names, r.toSeq))
  }

  /** (count, wrapping sum of 64-bit row hashes): equal for equal
    * multisets regardless of order.
    */
  def digest(rows: Iterable[String]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) => (n + 1, s + hash64(r)) }

  def hash64(s: String): Long = {
    val h = scala.util.hashing.MurmurHash3
    (h.stringHash(s, 0x5eed).toLong << 32) ^ (h.stringHash(s, 0x7ace).toLong & 0xffffffffL)
  }
}

/** Timing helpers. */
object Clock {
  /** Collect, untimed, the garbage earlier operations left, so that a
    * full collection they provoked does not land in the next timed one.
    */
  def settleHeap(): Unit = System.gc()

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** How fast the host runs right now: a fixed Spark job timed. On a
  * shared virtual machine the host's speed drifts by a quarter or more
  * over minutes, and operation times move with it; the gated operation
  * times are reported at the speed of a reference host, scaled by
  * [[ReferenceS]] over the run's median sample. The job keeps getting
  * faster as the run's own work warms the JIT, so it is sampled only
  * next to the timed operations: before each measured iteration and
  * four times after the last. The job uses Spark's
  * RDD API only (a shuffle, per-row hashing and a text write, like the
  * timed operations but through no engine code or Catalyst rule), so a
  * change to the engine does not move it.
  */
final class HostSpeed(spark: SparkSession, dir: String) {
  private val samples = mutable.ArrayBuffer[Double]()

  /** Untimed runs that let the JIT compile the job before any sample. */
  def warm(): Unit = (1 to 8).foreach(_ => job())

  def sample(): Unit = samples += Clock.time(job())._2

  def all: Seq[Double] = samples.toSeq

  def scale: Double = HostSpeed.ReferenceS / Stats.median(all)

  private def job(): Unit = {
    val path = s"$dir/${samples.size}-${System.nanoTime()}"
    spark.sparkContext.parallelize(0 until 20000, Main.Cores)
      .map(i => (i % 97, scala.util.hashing.MurmurHash3.stringHash(i.toString * 16)))
      .reduceByKey(_ ^ _, Main.Cores)
      .saveAsTextFile(path)
  }
}

object HostSpeed {
  /** The job's median time on the 4-core host the bounds were set on. */
  val ReferenceS = 0.15
}

/** Materialize a layer's output at its span boundary: write it as
  * parquet under `dir` and hand the next layer a read of that copy.
  * The write is the only job it runs; the traced run takes the row
  * count from the write's own SQL metrics.
  */
final class Boundary(spark: SparkSession, dir: String) {
  private var n = 0
  def apply(df: DataFrame, name: String): DataFrame = {
    n += 1
    val path = s"$dir/$n-$name.parquet"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

object Boundary {
  /** Rows written by the boundaries named `name` (any when empty) among
    * `nodes`.
    */
  def rows(nodes: Seq[PlanNode], name: String = ""): Double =
    writes(nodes, name).map(_.metrics.getOrElse("numOutputRows", 0L)).sum.toDouble

  def bytes(nodes: Seq[PlanNode]): Double =
    writes(nodes, "").map(_.metrics.getOrElse("numOutputBytes", 0L)).sum.toDouble

  private def writes(nodes: Seq[PlanNode], name: String): Seq[PlanNode] =
    nodes.filter(x => x.kind == "write" && x.detail.contains("/boundary/") &&
      x.detail.contains(s"-$name"))
}

/** One workload: seeded inputs, a unit of work, its checks. */
trait Workload {
  def name: String

  /** The series the end-to-end `op_p50_ms` and `aux_p50_ms` report. */
  def opSeries: String
  def auxSeries: String

  /** Write the seeded inputs; returns their recorded properties. */
  def generate(spark: SparkSession): Map[String, Any]

  /** One checked iteration of the workload's operations. Returns the
    * seconds of each operation that succeeded, by series name.
    */
  def step(spark: SparkSession, ledger: Ledger): Map[String, Seq[Double]]

  /** The untimed warm-up repetition that ends each set-up. */
  def warmUp(spark: SparkSession, ledger: Ledger): Unit = step(spark, ledger)

  /** Further untimed iterations after the set-up, before measuring:
    * enough for the iteration time to stop falling as the JIT warms.
    */
  def settleIterations: Int = 0

  /** Metrics beyond the timed series (e.g. recall). */
  def extraMetrics: Seq[(String, Any, String)] = Nil

  /** The traced run: per-layer metrics and the spans behind them. */
  def traced(spark: SparkSession, reps: Int, ledger: Ledger,
      runId: String): (Map[String, Double], Seq[Map[String, Any]])

  /** Checks that need the whole run (full-table digests, references
    * that are costly to rebuild).
    */
  def finalCheck(spark: SparkSession, ledger: Ledger): Unit = ()
}
