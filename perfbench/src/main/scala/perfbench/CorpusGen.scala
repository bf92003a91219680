package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded pretraining-style corpus for `corpus_curate`.
  *
  * Properties, all recorded with the results: a Zipf content vocabulary
  * per language; log-normal document lengths; planted exact duplicates;
  * planted near-duplicate clusters whose members differ by a few
  * replaced words (word 3-gram Jaccard mostly 0.5–0.9); boilerplate
  * spans shared by many documents; five languages (four with stopwords
  * the language filter knows, one it does not); a share of
  * symbol-heavy, low-quality documents. A delta batch for the ingest
  * screen holds fresh documents plus near and exact copies of corpus
  * documents.
  */
final class CorpusGen(seed: Long, val docs: Int, val deltaDocs: Int,
    val zipfS: Double = 1.05, val vocab: Int = 4000) {
  import CorpusGen._

  private val rnd = new Random(seed)

  private val langs = Seq("en", "es", "fr", "de", "xx")
  // most documents are English: the quality filter keeps English prose
  private val langWeights = Seq(0.7, 0.08, 0.08, 0.08, 0.06)
  private val content: Map[String, Array[String]] =
    langs.map(l => l -> Array.fill(vocab)(word(l))).toMap
  private val zipf = new Zipf(vocab, zipfS, rnd)
  val boilerplate: Vector[Vector[String]] =
    Vector.fill(6)(Vector.fill(12 + rnd.nextInt(9))(content("en")(rnd.nextInt(200))))

  /** doc_id → text, history first (ids 0 until docs), then the delta. */
  val text: mutable.LinkedHashMap[Long, String] = mutable.LinkedHashMap()
  val lang: mutable.Map[Long, String] = mutable.Map()
  /** Planted near-duplicate pairs (lower id first), history and delta. */
  val plantedPairs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  var exactCopies = 0
  var clusters = 0
  var lowQuality = 0
  var boilerplated = 0

  private def word(l: String): String = {
    val syl = Syllables(l)
    Seq.fill(1 + rnd.nextInt(3))(syl(rnd.nextInt(syl.length))).mkString
  }

  private def pickLang(): String = {
    var u = rnd.nextDouble()
    langs.zip(langWeights).find { case (_, w) => u -= w; u < 0 }.fold("en")(_._1)
  }

  private def fresh(l: String): Vector[String] = {
    val n = math.max(12, math.min(400, math.exp(math.log(110) + 0.45 * rnd.nextGaussian()).toInt))
    val stops = Stopwords.getOrElse(l, Vector.empty)
    val base = Vector.fill(n) {
      if (stops.nonEmpty && rnd.nextDouble() < 0.3) stops(rnd.nextInt(stops.size))
      else content(l)(zipf.next())
    }
    if (rnd.nextDouble() < 0.05) {
      lowQuality += 1
      base.map(w => if (rnd.nextDouble() < 0.4) "###" else w)
    } else if (rnd.nextDouble() < 0.3) {
      boilerplated += 1
      val b = boilerplate(rnd.nextInt(boilerplate.size))
      if (rnd.nextBoolean()) b ++ base else base ++ b
    } else base
  }

  /** A near copy: replace a few word positions. */
  private def variant(of: Vector[String], l: String): Vector[String] = {
    val p = 0.02 + rnd.nextDouble() * 0.08
    val out = of.map(w => if (rnd.nextDouble() < p) content(l)(rnd.nextInt(vocab)) else w)
    if (out == of) out.updated(rnd.nextInt(out.size), "zz" + word(l)) else out
  }

  private def add(id: Long, l: String, words: Vector[String]): Unit = {
    text(id) = words.mkString(" ")
    lang(id) = l
  }

  locally {
    var id = 0L
    while (id < docs) {
      val l = pickLang()
      val base = fresh(l)
      add(id, l, base)
      val u = rnd.nextDouble()
      if (u < 0.05 && id + 1 < docs) {
        exactCopies += 1
        id += 1
        add(id, l, base)
      } else if (u < 0.10) {
        clusters += 1
        val members = mutable.ArrayBuffer(id)
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          if (id + 1 < docs) {
            id += 1
            add(id, l, variant(base, l))
            members += id
          }
        }
        for (a <- members; b <- members if a < b) plantedPairs += ((a, b))
      }
      id += 1
    }
    (0 until deltaDocs).foreach { i =>
      val id = docs.toLong + i
      val u = rnd.nextDouble()
      if (u < 0.1) {
        val src = rnd.nextInt(docs).toLong
        add(id, lang(src), text(src).split(" ").toVector)
      } else if (u < 0.3) {
        val src = rnd.nextInt(docs).toLong
        add(id, lang(src), variant(text(src).split(" ").toVector, lang(src)))
        plantedPairs += ((src, id))
      } else {
        val l = pickLang()
        add(id, l, fresh(l))
      }
    }
  }

  def history: Seq[(Long, String)] = text.iterator.filter(_._1 < docs).toSeq
  def delta: Seq[(Long, String)] = text.iterator.filter(_._1 >= docs).toSeq

  /** A BPE merge list learned from the English vocabulary in plain
    * Scala: the tokenizer artifact the pass encodes with.
    */
  def merges(n: Int): Seq[(String, String)] = {
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    history.foreach { case (id, t) => if (lang(id) == "en") t.split(" ").foreach(counts(_) += 1) }
    var words = counts.toSeq.map { case (w, c) => (w.map(_.toString).toVector :+ "</w>", c) }
    val out = mutable.ArrayBuffer[(String, String)]()
    while (out.size < n) {
      val pairs = mutable.Map[(String, String), Long]().withDefaultValue(0L)
      words.foreach { case (s, c) => s.sliding(2).foreach { case Seq(a, b) => pairs((a, b)) += c; case _ => } }
      if (pairs.isEmpty) return out.toSeq
      val best = pairs.toSeq.maxBy { case ((a, b), c) => (c, a, b) }._1
      out += best
      words = words.map { case (s, c) =>
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < s.size) {
          if (i + 1 < s.size && s(i) == best._1 && s(i + 1) == best._2) { b += best._1 + best._2; i += 2 }
          else { b += s(i); i += 1 }
        }
        (b.result(), c)
      }
    }
    out.toSeq
  }

  def properties: Map[String, Any] = Map(
    "docs" -> docs, "delta_docs" -> deltaDocs, "vocab_per_lang" -> vocab, "zipf_s" -> zipfS,
    "languages" -> langs, "exact_copies" -> exactCopies, "near_dup_clusters" -> clusters,
    "planted_pairs" -> plantedPairs.size, "low_quality_docs" -> lowQuality,
    "boilerplate_spans" -> boilerplate.size, "boilerplated_docs" -> boilerplated,
    "mean_tokens" -> text.valuesIterator.map(_.count(_ == ' ') + 1).sum.toDouble / text.size,
  )
}

object CorpusGen {
  /** The stopwords the engine's language filter scores, plus the
    * Gopher rule's English stopwords so English prose passes it.
    */
  val Stopwords: Map[String, Vector[String]] = Map(
    "en" -> Vector("the", "of", "and", "to", "in", "is", "that", "for", "be", "have", "with"),
    "es" -> Vector("el", "la", "de", "que", "y", "en", "los", "del"),
    "fr" -> Vector("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Vector("der", "die", "und", "das", "von", "zu", "mit", "den"),
  )

  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> Array("ing", "ter", "con", "pro", "ment", "ble", "tion", "ver", "com", "per", "sta", "lan"),
    "es" -> Array("cion", "mente", "dad", "ra", "co", "ta", "lo", "mi", "bre", "nes", "par", "to"),
    "fr" -> Array("eau", "ment", "oir", "que", "tion", "ette", "lle", "pre", "vou", "ais", "ier", "on"),
    "de" -> Array("ung", "keit", "sch", "ein", "ver", "ber", "lich", "ter", "gen", "hei", "stra", "auf"),
    "xx" -> Array("kwa", "zu", "nyo", "mba", "tsi", "lo", "ra", "ki", "ng", "wa", "ye", "shi"),
  )

  /** Word 3-gram Jaccard as the engine defines it (lowercased,
    * whitespace-split, distinct shingles; a text shorter than the
    * width is one shingle), computed here independently.
    */
  def shingles(text: String, w: Int = 3): Set[String] = {
    val toks = text.toLowerCase.split("\\s+", -1)
    (0 to math.max(toks.length - w, 0)).map(i => toks.slice(i, i + w).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }
}
