package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Plan pins: every timed operation's executed plans contain the kernel
  * it is meant to time, so the sink never lets Catalyst prune the work.
  */
class PlanPinSpec extends AnyFunSuite with Eventually {
  private lazy val spark = TestSession.spark
  private implicit val patience: PatienceConfig = PatienceConfig(timeout = Span(30, Seconds))

  private object Nodes extends AdaptiveSparkPlanHelper
  private def describe(p: SparkPlan): String =
    Nodes.collectWithSubqueries(p) { case n => n.simpleString(1000) }.mkString("\n")

  /** Runs `op` and asserts that the executed plans of the queries it
    * ran contain every kernel. Plans reach the listener asynchronously,
    * so the assertion is retried until they arrive.
    */
  private def pinned(op: => Any)(kernels: String*): Unit = {
    val seen = mutable.ArrayBuffer[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized { seen += describe(qe.executedPlan) }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      op
      eventually {
        val plans = seen.synchronized(seen.mkString("\n====\n"))
        kernels.foreach(k => assert(plans.contains(k), s"`$k` missing from the timed plans"))
      }
    } finally spark.listenerManager.unregister(l)
  }

  private def dir() = Files.createTempDirectory("perfbench-pin").toString

  test("etl cycle and lookup") {
    val w = new EtlWorkload(1, dir(), tracing = false, farmers = 60, batchSize = 12)
    w.generate(spark)
    val (b, log) = w.prepare(spark)
    pinned(w.run(spark, w.tgt.head, log))(
      "upper(", "LeftSemi", "LeftAnti", "InsertIntoHadoopFsRelationCommand")
    pinned(w.lookup(spark, w.tgt.head, b))("PushedFilters: [In(")
  }

  test("curation pass and delta screen") {
    val w = new CorpusWorkload(1, dir(), docs = 80, deltaDocs = 20)
    w.generate(spark)
    val ledger = new Ledger
    pinned(w.curate(spark, ledger))("md5(", "shinglehashesexpr", "gramhashesexpr",
      "graft_bpe_encode(", "InsertIntoHadoopFsRelationCommand")
    pinned(w.deltaScreen(spark, ledger))("shinglehashesexpr", "InsertIntoHadoopFsRelationCommand")
    assert(ledger.failed == 0, ledger.errors)
  }

  test("ivf and lsh query batches") {
    val w = new VectorWorkload(1, dir(), vectors = 300, queries = 5)
    w.generate(spark)
    val ledger = new Ledger
    pinned(w.batch(spark, ledger, "ivf", w.ivf))("quantizeexpr", "arraydotproduct",
      "InsertIntoHadoopFsRelationCommand")
    pinned(w.batch(spark, ledger, "lsh", w.lsh))("hyperplanesigexpr", "arraydotproduct",
      "InsertIntoHadoopFsRelationCommand")
    assert(ledger.failed == 0, ledger.errors)
  }
}
