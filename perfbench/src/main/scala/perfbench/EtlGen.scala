package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.schema.{Catalog, Schemas}

/** Seeded RSBSA registry and change-log traffic for `etl_trickle`.
  *
  * Every one of the 12 catalog tables is generated with its declared
  * schema. Farmers own 1–2 parcels (some co-owned), and one-to-many
  * tables hold 0–3 rows per farmer. Strings in normalized columns are
  * mixed case, so normalization has work to do.
  *
  * The generator also keeps the expected target state: an independent
  * model of what the merge must publish. Before the first cycle the
  * source drifts away from the initial target on a share of farmers the
  * log does not name, so a merge that rewrote untouched keys from the
  * source would be caught.
  */
final class EtlGen(seed: Long, val farmers: Int, val batchSize: Int,
    val zipfS: Double = 1.1, val invalidFrac: Double = 0.01,
    val driftFrac: Double = 0.1) {
  import EtlGen._

  private val rnd = new Random(seed)

  val keys: Array[String] = Array.tabulate(farmers) { i =>
    f"${1 + i % 17}%02d-${1 + i % 53}%02d-${1 + i % 29}%02d-${i % 997}%03d-$i%06d"
  }
  private val zipf = new Zipf(farmers, zipfS, rnd)
  // hot farmers are a seeded random subset, not the lowest ids
  private val rankToFarmer = rnd.shuffle(keys.indices.toVector).toArray

  /** Source rows per table, each in its table's declared column order. */
  val source: Map[String, mutable.ArrayBuffer[Array[Any]]] =
    TableNames.map(_ -> mutable.ArrayBuffer[Array[Any]]()).toMap

  /** farmer key → parcel ids it owns (the ownership bridge). */
  val parcelsOf = mutable.Map[String, Vector[String]]()

  generate()

  /** Expected target state: table → key → normalized rows. */
  val target: mutable.Map[String, Map[String, Vector[Array[Any]]]] =
    mutable.Map(TableNames.map(t => t -> byKey(t, source(t).map(normalize(t, _)))): _*)

  private var nextLogId = 1L
  private var batchNo = 0

  // Drift: the source moves on for farmers the log has not named yet.
  locally {
    val drifted = keys.filter(_ => rnd.nextDouble() < driftFrac).toSet
    TableNames.foreach { t =>
      val k = keyIndex(t)
      source(t).foreach(r => if (k >= 0 && drifted(r(k).asInstanceOf[String])) mutate(t, r))
    }
  }

  def schema(t: String): StructType = Schemas.byName(t)

  def keyCol(t: String): String = Catalog.specFor(t).key

  def keyIndex(t: String): Int = schema(t).fieldNames.indexOf(keyCol(t))

  private def byKey(t: String, rows: Iterable[Array[Any]]): Map[String, Vector[Array[Any]]] = {
    val k = keyIndex(t)
    rows.toVector.groupBy(_(k).asInstanceOf[String])
  }

  def sourceRows(t: String): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row](source(t).size)
    source(t).foreach(r => out.add(Row.fromSeq(r.toSeq)))
    out
  }

  def targetRows(t: String): java.util.List[Row] = {
    val out = new java.util.ArrayList[Row]()
    target(t).valuesIterator.flatten.foreach(r => out.add(Row.fromSeq(r.toSeq)))
    out
  }

  private def generate(): Unit = {
    var nextParcel = 0
    keys.foreach { f =>
      val own = Vector.fill(1 + rnd.nextInt(2)) { nextParcel += 1; f"P$nextParcel%07d" }
      parcelsOf(f) = own
    }
    // co-owners: ~10% of farmers also hold a share of another's parcel
    keys.foreach { f =>
      if (rnd.nextDouble() < 0.1) {
        val other = keys(rnd.nextInt(farmers))
        if (other != f) parcelsOf(f) = (parcelsOf(f) :+ parcelsOf(other).head).distinct
      }
    }
    keys.foreach { f =>
      Seq("farmers_kyc1", "farmers_kyc2", "farmers_kyc3", "farmers_kyc4")
        .foreach(t => source(t) += row(t, f))
      Seq("farmers_attachments", "farmers_fca", "farmers_form_attachments",
        "farmers_livelihood")
        .foreach(t => (0 until rnd.nextInt(4)).foreach(_ => source(t) += row(t, f)))
      parcelsOf(f).foreach { p =>
        val own = row("farmparcelownership", f)
        own(schema("farmparcelownership").fieldIndex("parcel_id")) = p
        source("farmparcelownership") += own
        Seq("farmparcelactivity", "farmparcelattachments").foreach { t =>
          (0 until rnd.nextInt(3)).foreach { _ =>
            val r = row(t, f)
            r(schema(t).fieldIndex("parcel_id")) = p
            source(t) += r
          }
        }
      }
    }
    parcelsOf.valuesIterator.flatten.toSeq.distinct.sorted.foreach { p =>
      val r = row("farmparcel", p)
      source("farmparcel") += r
    }
  }

  private def row(t: String, key: String): Array[Any] = {
    val s = schema(t)
    val upper = Catalog.specFor(t).upperCols.map(_.toLowerCase).toSet
    val r = s.fields.map(f => value(f, upper(f.name.toLowerCase)))
    r(keyIndex(t)) = key
    if (t == "farmparcel") r(s.fieldIndex("owner_rsbsa_no")) = null
    r
  }

  private def value(f: StructField, mixedCase: Boolean): Any = f.dataType match {
    case StringType if Schemas.enumDomains.contains(f.name) =>
      val d = Schemas.enumDomains(f.name); d(rnd.nextInt(d.size))
    case StringType if mixedCase => if (rnd.nextInt(20) == 0) null else mixedWords()
    case StringType => if (rnd.nextInt(20) == 0) null else f"c${rnd.nextInt(1000000)}%06d"
    case IntegerType => rnd.nextInt(100000)
    case BooleanType => rnd.nextBoolean()
    case ByteType => rnd.nextInt(100).toByte
    case FloatType => rnd.nextInt(100000) / 100f
    case d: DecimalType => java.math.BigDecimal.valueOf(rnd.nextInt(1000000).toLong, d.scale)
    case DateType =>
      java.sql.Date.valueOf(LocalDate.of(1950 + rnd.nextInt(60), 1 + rnd.nextInt(12),
        1 + rnd.nextInt(28)))
    case TimestampType =>
      new java.sql.Timestamp(1500000000000L + rnd.nextInt(200000000) * 1000L)
    case TimestampNTZType =>
      LocalDateTime.of(2015 + rnd.nextInt(10), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28),
        rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
    case BinaryType => Array.fill[Byte](8)(rnd.nextInt(256).toByte)
    case other => sys.error(s"no generator for $other")
  }

  private def mixedWords(): String =
    Seq.fill(1 + rnd.nextInt(3)) {
      val w = Words(rnd.nextInt(Words.length))
      rnd.nextInt(4) match {
        case 0 => w
        case 1 => w.capitalize
        case 2 => w.toUpperCase
        case _ => w.map(c => if (rnd.nextBoolean()) c.toUpper else c)
      }
    }.mkString(" ")

  /** Rewrite the normalized string columns of one source row in place. */
  private def mutate(t: String, r: Array[Any]): Unit = {
    val s = schema(t)
    val cols = Catalog.specFor(t).upperCols.flatMap(c => s.fieldNames.indexWhere(_.equalsIgnoreCase(c)) match {
      case -1 => None
      case i if s(i).dataType == StringType => Some(i)
      case _ => None
    })
    if (cols.nonEmpty) {
      r(cols(rnd.nextInt(cols.size))) = mixedWords()
      r(cols(rnd.nextInt(cols.size))) = mixedWords()
    }
  }

  /** The reference's normalization: upper-case the catalog's columns. */
  def normalize(t: String, r: Array[Any]): Array[Any] = {
    val s = schema(t)
    val upper = Catalog.specFor(t).upperCols.map(_.toLowerCase).toSet
    r.indices.map { i =>
      (r(i), s(i).dataType) match {
        case (v: String, StringType) if upper(s(i).name.toLowerCase) => v.toUpperCase
        case (v, _) => v
      }
    }.toArray
  }

  /** The next change-log batch. Mutates the source rows the batch names
    * (the change the log records) and returns the log rows, the planted
    * counts and the tables whose source changed.
    */
  def nextBatch(): Batch = {
    // a batch records ownership changes (which cascade to parcels), one
    // one-to-one table and one other one-to-many table, taken in turn:
    // every cycle syncs the same mix, and every table takes its turn.
    // The first batch names every table, so the cycle that replays it
    // (the warm-up) compiles every table's plans before any is timed.
    val named =
      if (batchNo == 0) "farmparcelownership" +: (OneToOneTables ++ OneToManyTables)
      else Vector("farmparcelownership", OneToOneTables(batchNo % OneToOneTables.size),
        OneToManyTables(batchNo % OneToManyTables.size))
    batchNo += 1
    val rows = Vector.fill(batchSize) {
      val id = nextLogId; nextLogId += 1
      val table = named((id % named.size).toInt)
      if (rnd.nextDouble() < invalidFrac) {
        if (rnd.nextBoolean()) LogRow(id, null, table)
        else LogRow(id, keys(rankToFarmer(zipf.next())), null)
      } else LogRow(id, keys(rankToFarmer(zipf.next())), table)
    }
    val valid = rows.filter(r => r.key != null && r.table != null)
    val touched = mutable.Map[String, Set[String]]().withDefaultValue(Set.empty)
    valid.foreach { r =>
      touched(r.table) += r.key
      // ownership changes re-sync the owned parcels (the cascade)
      if (r.table == "farmparcelownership" || r.table == "farmparcel")
        touched("farmparcel") ++= parcelsOf(r.key)
    }
    val changed = touched.keySet.toSet
    changed.foreach { t =>
      val k = keyIndex(t)
      source(t).foreach(r => if (touched(t)(r(k).asInstanceOf[String])) mutate(t, r))
    }
    // expected targets: rows of keys present in the incoming extract are
    // replaced by the normalized current source rows; all others stay
    changed.foreach { t =>
      val k = keyIndex(t)
      val incoming = byKey(t, source(t).filter(r => touched(t)(r(k).asInstanceOf[String]))
        .map(normalize(t, _)))
      target(t) = target(t) ++ incoming
    }
    Batch(rows, rows.size - valid.size, changed,
      valid.map(_.key).distinct)
  }
}

final case class LogRow(logId: Long, key: String, table: String)

/** One change-log batch: the rows, how many are invalid (null key or
  * table), the tables whose source rows changed, and the valid keys.
  */
final case class Batch(rows: Vector[LogRow], invalid: Int, changedTables: Set[String],
    keys: Vector[String])

object EtlGen {
  val TableNames: Seq[String] = Catalog.tables.keys.toSeq.sorted

  /** Tables a batch names besides ownership, by cardinality, in the
    * order batches take them; parcels are reached through the ownership
    * cascade.
    */
  val OneToOneTables: Vector[String] =
    Vector("farmers_kyc1", "farmers_kyc2", "farmers_kyc3", "farmers_kyc4")
  val OneToManyTables: Vector[String] = Vector("farmers_livelihood", "farmparcelactivity",
    "farmers_attachments", "farmparcelattachments", "farmers_fca", "farmers_form_attachments")

  private val Words = Array("dela", "cruz", "santos", "reyes", "bautista", "garcia",
    "mendoza", "peña", "niño", "aquino", "ramos", "villanueva", "castillo", "rivera",
    "juan", "maria", "jose", "rosario", "barangay", "poblacion", "sitio", "purok",
    "palay", "mais", "niyog", "tubo", "gulay", "lupa", "bukid", "encoder", "office")

  val LogSchema: StructType = Catalog.changeLogSchema
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
