package perfbench

import org.apache.spark.sql.SparkSession

/** Two workloads run in one JVM, alternating, reported as one: the op
  * series is the sum of `a`'s two operations per iteration and the aux
  * series the sum of `b`'s; every component series is reported too.
  */
final class Paired(val name: String, a: Workload, b: Workload,
    val opSeries: String, val auxSeries: String) extends Workload {

  def generate(spark: SparkSession): Map[String, Any] =
    Map(a.name -> a.generate(spark), b.name -> b.generate(spark))

  /** The iteration's two operations of `w` added up, when both succeeded. */
  private def both(x: Map[String, Seq[Double]], w: Workload, as: String)
      : (String, Seq[Double]) =
    as -> (for (o <- x.getOrElse(w.opSeries, Nil).headOption;
      p <- x.getOrElse(w.auxSeries, Nil).headOption) yield o + p).toSeq

  def step(spark: SparkSession, ledger: Ledger): Map[String, Seq[Double]] = {
    val x = a.step(spark, ledger)
    Clock.settleHeap()
    val y = b.step(spark, ledger)
    x ++ y + both(x, a, opSeries) + both(y, b, auxSeries)
  }

  override def warmUp(spark: SparkSession, ledger: Ledger): Unit = {
    a.warmUp(spark, ledger)
    b.warmUp(spark, ledger)
  }

  override def extraMetrics: Seq[(String, Any, String)] = a.extraMetrics ++ b.extraMetrics

  /** Per-operation layer metrics add up across the two; the two ratios
    * that do not add are averaged.
    */
  def traced(spark: SparkSession, reps: Int, ledger: Ledger,
      runId: String): (Map[String, Double], Seq[Map[String, Any]]) = {
    val (ma, sa) = a.traced(spark, reps, ledger, s"$runId-${a.name}")
    val (mb, sb) = b.traced(spark, reps, ledger, s"$runId-${b.name}")
    val averaged = Set("spark.task_busy_frac", "trace.overhead_frac")
    val m = (ma.keySet ++ mb.keySet).map { k =>
      k -> ((ma.get(k), mb.get(k)) match {
        case (Some(x), Some(y)) => if (averaged(k)) (x + y) / 2 else x + y
        case (x, y) => x.orElse(y).get
      })
    }.toMap
    (m, sa ++ sb)
  }

  override def finalCheck(spark: SparkSession, ledger: Ledger): Unit = {
    a.finalCheck(spark, ledger)
    b.finalCheck(spark, ledger)
  }
}
