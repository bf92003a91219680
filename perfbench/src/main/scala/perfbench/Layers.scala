package perfbench

import scala.collection.mutable

/** The per-layer metric catalogue and the metrics every workload
  * derives the same way. A traced run reports every metric here; a
  * layer a workload does not exercise reads 0.
  */
object Layers {

  /** (name, unit, better) for every per-layer metric. */
  val catalogue: Seq[(String, String, String)] = Seq(
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.task_busy_frac", "ratio", "higher"),
    ("spark.codegen_compile_s", "s", "lower"),
    ("sources.scan_bytes", "B", "lower"),
    ("sources.scan_rows", "count", "lower"),
    ("sources.files_read", "count", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("changelog.keys", "count", "lower"),
    ("changelog.extracted_rows", "count", "lower"),
    ("changelog.self_s", "s", "lower"),
    ("normalize.self_s", "s", "lower"),
    ("merge.target_rows_read", "count", "lower"),
    ("merge.rows_retained", "count", "lower"),
    ("merge.rows_written", "count", "lower"),
    ("merge.self_s", "s", "lower"),
    ("publish.bytes_written", "B", "lower"),
    ("publish.files_written", "count", "lower"),
    ("publish.write_amp", "ratio", "lower"),
    ("publish.self_s", "s", "lower"),
    ("etlrun.jobs_per_cycle", "count", "lower"),
    ("etlrun.bookkeeping_s", "s", "lower"),
    ("etlrun.tables_failed", "count", "lower"),
    ("dedup.shingle_rows", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.cc_rounds", "count", "lower"),
    ("dedup.exact_self_s", "s", "lower"),
    ("dedup.jaccard_self_s", "s", "lower"),
    ("dedup.cc_self_s", "s", "lower"),
    ("dedup.spans_self_s", "s", "lower"),
    ("dedup.cross_self_s", "s", "lower"),
    ("materialize.checkpoints", "count", "lower"),
    ("materialize.checkpoint_bytes", "B", "lower"),
    ("materialize.eager_s", "s", "lower"),
    ("text.self_s", "s", "lower"),
    ("bpe.tokens_out", "count", "lower"),
    ("bpe.self_s", "s", "lower"),
    ("pack.chunks_out", "count", "lower"),
    ("pack.fill_ratio", "ratio", "higher"),
    ("similarity.index_build_s", "s", "lower"),
    ("similarity.candidates_per_query", "count", "lower"),
    ("similarity.candidates_per_result", "count", "lower"),
    ("similarity.scan_s", "s", "lower"),
    ("similarity.lsh_candidates_per_query", "count", "lower"),
    ("similarity.lsh_scan_s", "s", "lower"),
    ("similarity.ivf_recall_at_10", "ratio", "higher"),
    ("similarity.lsh_recall_at_10", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.boundary_s", "s", "lower"),
    ("trace.boundary_bytes", "B", "lower"),
  )

  /** The `spark` layer, per operation, from a trace of the program's
    * own calls (no span boundaries inside).
    */
  def spark(t: TraceResult, ops: Double): Map[String, Double] = {
    val wall = t.spans.filter(_.parent == -1).map(_.seconds).sum
    Map(
      "spark.jobs" -> t.sum("jobs") / ops,
      "spark.stages" -> t.sum("stages") / ops,
      "spark.tasks" -> t.sum("tasks") / ops,
      "spark.shuffle_write_bytes" -> t.sum("shuffle_write_bytes") / ops,
      "spark.shuffle_read_bytes" -> t.sum("shuffle_read_bytes") / ops,
      "spark.spill_bytes" -> t.sum("spill_bytes") / ops,
      "spark.gc_s" -> t.sum("gc_s") / ops,
      "spark.task_busy_frac" -> (if (wall > 0) t.sum("task_s") / (wall * Main.Cores) else 0.0),
    )
  }

  /** Checkpoints the program made while the traced calls ran. */
  def materialize(t: TraceResult, eagerS: Double, ops: Double): Map[String, Double] = Map(
    "materialize.checkpoints" -> t.sum("checkpoints") / ops,
    "materialize.checkpoint_bytes" -> t.sum("checkpoint_bytes") / ops,
    "materialize.eager_s" -> eagerS / ops,
  )

  /** The cost of tracing, apart from the cost of the span boundaries:
    * shallow-traced minus untraced wall time of the same operations, and
    * layer-composed minus shallow-traced wall time with the bytes the
    * boundaries wrote.
    */
  def overhead(w: Walls, layered: TraceResult, ops: Double): Map[String, Double] = {
    def diff(a: Seq[Double], b: Seq[Double]) =
      Stats.median(a.zip(b).map { case (x, y) => x - y })
    if (w.untraced.isEmpty || w.shallow.isEmpty || w.layered.isEmpty) Map.empty
    else {
      val d = diff(w.shallow.toSeq, w.untraced.toSeq)
      Map("trace.overhead_s" -> d,
        "trace.overhead_frac" -> d / Stats.median(w.untraced.toSeq),
        "trace.boundary_s" -> diff(w.layered.toSeq, w.shallow.toSeq),
        "trace.boundary_bytes" -> Boundary.bytes(layered.planNodes()) / ops)
    }
  }
}

/** Wall times of the same operations run three ways: untraced, under
  * one span per operation (the program as it is), and composed layer by
  * layer with a boundary after each layer.
  */
final class Walls {
  val untraced: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  val shallow: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  val layered: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()

  /** Run the untraced and the shallow-traced copy of rep `rep`'s
    * operations, untraced first on odd reps and second on even ones, so
    * that warm-up still under way favours neither side.
    */
  def inTurn(rep: Int)(untracedOps: => Unit)(shallowOps: => Unit): Unit =
    if (rep % 2 == 1) { untracedOps; shallowOps } else { shallowOps; untracedOps }
}
