package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(Main.Cores, "perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The generators are pure functions of their seed: the same seed gives
  * identical inputs, down to the parquet the engine reads.
  */
class GenSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def etlDigest(g: EtlGen): Seq[(Long, Long)] =
    EtlGen.TableNames.map { t =>
      val names = g.schema(t).fieldNames.toSeq
      Canon.digest(g.source(t).map(r => Canon.row(names, r.toSeq)))
    }

  test("etl: same seed, same registry and change-log batches") {
    def run(seed: Long) = {
      val g = new EtlGen(seed, farmers = 200, batchSize = 30)
      val before = etlDigest(g)
      val batches = Seq.fill(3)(g.nextBatch())
      (before, batches, etlDigest(g), g.parcelsOf.toMap)
    }
    assert(run(7) == run(7))
    assert(run(7)._1 != run(8)._1)
    val g = new EtlGen(7, farmers = 200, batchSize = 30)
    assert(g.nextBatch().changedTables == EtlGen.TableNames.toSet,
      "the first (warm-up) batch names every table")
    val b = g.nextBatch()
    assert(b.rows.size == 30)
    assert(b.changedTables.size == 4 && b.changedTables.contains("farmparcel"),
      "ownership rows cascade to parcels; one one-to-one and one one-to-many table")
  }

  test("corpus: same seed, same documents, planted pairs and BPE merges") {
    def run(seed: Long) = {
      val g = new CorpusGen(seed, docs = 120, deltaDocs = 30)
      (g.text.toSeq, g.plantedPairs.toSeq, g.merges(20), g.properties)
    }
    assert(run(3) == run(3))
    assert(run(3)._1 != run(4)._1)
    val g = new CorpusGen(3, docs = 120, deltaDocs = 30)
    assert(g.plantedPairs.nonEmpty && g.exactCopies > 0 && g.clusters > 0)
  }

  test("written inputs: the same seed writes identical parquet") {
    def inputs(seed: Long): Seq[Seq[String]] = {
      val dir = Files.createTempDirectory("perfbench-gen").toString
      new CorpusWorkload(seed, s"$dir/c", docs = 60, deltaDocs = 10).generate(spark)
      new VectorWorkload(seed, s"$dir/v", vectors = 200, queries = 5).generate(spark)
      new EtlWorkload(seed, s"$dir/e", tracing = false, farmers = 50, batchSize = 10)
        .generate(spark)
      Seq(s"$dir/c/docs.parquet", s"$dir/c/delta.parquet", s"$dir/v/embeddings.parquet") ++
        EtlGen.TableNames.flatMap(t => Seq(s"$dir/e/src/$t.parquet", s"$dir/e/tgt-a/$t.parquet"))
      }.map(p => Canon.rows(spark.read.parquet(p)).sorted)
    assert(inputs(11) == inputs(11))
    assert(inputs(11) != inputs(12))
  }
}
