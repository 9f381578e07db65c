package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.kg.Dictionary
import graft.synth.{GenConfig, TranscriptGen}

/** Seeded input generators. Every table is a pure function of the seed
  * and the workload's size, written as Parquet in the layout the entry
  * points read:
  *
  *   kg_bulk:    turns/ (the RunPipeline --turns contract) and dict/ (the
  *               --dict contract); the checks rebuild the ground truth
  *               from the same GenConfig
  *   curate:     docs/ (doc_id, text, lang) and eval/ (text); the
  *               planted (doc_id, kind) labels stay with the benchmark
  */
object Gen {

  /** kg_bulk: ~7e4 turns against 3.6k surfaces, below
    * KGPipeline.DriverLocalLinkThreshold (driver-local linking).
    */
  val KgShape = GenConfig(numConvs = 4000, numEntities = 900)

  def kg(spark: SparkSession, seed: Long, dir: String): GenConfig = {
    import spark.implicits._
    val cfg = KgShape.copy(seed = seed)
    TranscriptGen.transcripts(spark, cfg).write.parquet(s"$dir/turns")
    Dictionary.build(cfg.seed, cfg.numEntities).map(s => (s.surfaceId, s.surface, s.entityType))
      .toDF("surface_id", "surface", "entity_type").write.parquet(s"$dir/dict")
    cfg
  }

  final case class DocSize(numDocs: Int, numEval: Int)

  val CurateSize = DocSize(numDocs = 1000, numEval = 100)

  /** Planted document kinds and the share of the corpus each takes.
    * Every curation stage has something to remove: exact_dup (case and
    * punctuation copies of an earlier doc; exact dedup), near_dup (an
    * earlier doc with a few words swapped; LSH near-dup), eval_overlap
    * (a 20-word passage of an eval doc; decontam), short (under the
    * gopher 50-word floor), ellipsis (every line ends in "..."; gopher
    * line rules). Independently, BoilerRate of the docs get one of a few
    * shared lines (line dedup) and PiiRate an email and phone (redact).
    */
  val KindRates: Seq[(String, Double)] = Seq(
    "exact_dup" -> 0.04, "near_dup" -> 0.04, "eval_overlap" -> 0.03,
    "short" -> 0.03, "ellipsis" -> 0.03)
  val BoilerRate = 0.25
  val PiiRate = 0.05
  val EvalPassageWords = 20

  private val Boilerplate = Vector(
    "subscribe to our newsletter for weekly updates and offers",
    "all rights reserved by the publisher and its partners",
    "click here to read the full terms of service",
    "share this article with your friends and colleagues",
    "follow us on every platform for the latest stories",
    "this page was last updated by the editorial team",
    "advertisement continue reading below the fold",
    "sign in to leave a comment on this story")

  private def vocab(rng: SplittableRandom, n: Int): Vector[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val syl = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += cons.charAt(rng.nextInt(cons.length))
        sb += vows.charAt(rng.nextInt(vows.length))
      }
      out += sb.toString
    }
    out.toVector
  }

  private final class Words(rng: SplittableRandom, vocab: Vector[String]) {
    // mildly skewed word frequencies, like natural text
    def word(): String = vocab(math.min(vocab.size - 1, (math.pow(rng.nextDouble(), 1.5) * vocab.size).toInt))
    def line(n: Int): Vector[String] = Vector.fill(n)(word())
    def lines(): Vector[Vector[String]] = Vector.fill(6 + rng.nextInt(5))(line(8 + rng.nextInt(7)))
  }

  private def render(lines: Seq[Seq[String]], end: String = "."): String =
    lines.map(_.mkString(" ") + end).mkString("\n")

  /** (doc_id, text, lang, kind) rows plus the eval texts. */
  def docs(seed: Long, size: DocSize): (Seq[(Long, String, String, String)], Seq[String]) = {
    val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17)
    val w = new Words(rng, vocab(rng, 4000))
    val eval = Vector.fill(size.numEval)(w.line(60).mkString(" "))
    val langs = Vector("en" -> 0.6, "de" -> 0.25, "fr" -> 0.15)
    def lang(): String = {
      val u = rng.nextDouble()
      langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .collectFirst { case (l, c) if u < c => l }.getOrElse("en")
    }
    val bases = scala.collection.mutable.ArrayBuffer.empty[Vector[Vector[String]]]
    val rows = (0 until size.numDocs).map { i =>
      val u = rng.nextDouble()
      val drawn = KindRates.scanLeft(("base", 0.0)) { case ((_, acc), (k, p)) => (k, acc + p) }.tail
        .collectFirst { case (k, c) if u < c => k }.getOrElse("base")
      // a copy needs an earlier original
      val kind = if (bases.isEmpty && drawn.endsWith("_dup")) "base" else drawn
      val text = kind match {
        case "exact_dup" =>
          // normalizes to the same text as an earlier (smaller-id) doc
          render(bases(rng.nextInt(bases.size)).map(_.map(_.toUpperCase)), "!")
        case "near_dup" =>
          val src = bases(rng.nextInt(bases.size))
          render(src.map(l => l.map(t => if (rng.nextDouble() < 0.04) w.word() else t)))
        case "eval_overlap" =>
          val e = eval(rng.nextInt(eval.size)).split(' ')
          val off = rng.nextInt(e.length - EvalPassageWords + 1)
          val ls = w.lines()
          render(ls.take(2) ++ Seq(e.slice(off, off + EvalPassageWords).toVector) ++ ls.drop(2))
        case "short" => render(Vector.fill(2)(w.line(8)))
        case "ellipsis" => render(w.lines(), "...")
        case _ =>
          val boiler =
            if (rng.nextDouble() < BoilerRate) Seq(Boilerplate(rng.nextInt(Boilerplate.size))) else Nil
          val pii =
            if (rng.nextDouble() < PiiRate)
              Seq(s"contact ${w.word()}${rng.nextInt(1000)}@example.com or " +
                s"+1 555 ${100 + rng.nextInt(900)} ${1000 + rng.nextInt(9000)} today")
            else Nil
          val ls = w.lines() ++ (boiler ++ pii).map(_.split(' ').toVector)
          bases += ls
          render(ls)
      }
      (i.toLong, text, lang(), kind)
    }
    (rows, eval)
  }

  /** Writes docs/ and eval/; returns the planted (doc_id, kind) labels. */
  def curate(spark: SparkSession, seed: Long, dir: String): Seq[(Long, String)] = {
    import spark.implicits._
    val (rows, eval) = docs(seed, CurateSize)
    rows.map(r => (r._1, r._2, r._3)).toDF("doc_id", "text", "lang").write.parquet(s"$dir/docs")
    eval.toDF("text").write.parquet(s"$dir/eval")
    rows.map(r => (r._1, r._4))
  }
}
