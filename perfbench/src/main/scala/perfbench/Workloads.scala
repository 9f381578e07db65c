package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{RunCuration, RunMix, RunPipeline}
import graft.canon.ConnectedComponents
import graft.extract.Mentions
import graft.graph.Materialize
import graft.kg.Dictionary
import graft.link.Linker
import graft.model.Turn
import graft.pipeline.{Curation, KGPipeline}
import graft.sampling.Sampling
import graft.synth.{GenConfig, TranscriptGen}
import graft.text.{Redact, TextOps}

/** One workload: its entry-point pass, the checks on a pass's outputs,
  * and the traced pass plus per-layer probes.
  */
trait Workload {
  def inputRows: Long
  /** Every setting the benchmark passes to the entry points. */
  def settings: Seq[String]
  /** Runs the entry point(s) into the fresh directory `out`; returns the
    * output counts, which must be identical across passes.
    */
  def pass(out: String): Seq[Long]
  /** Failed output checks of a pass (empty when every check holds). */
  def check(out: String, counts: Seq[Long]): Seq[String]
  /** The pass with each of the entry points' calls in a span. */
  def tracedPass(t: Tracer, out: String): Seq[Long]
  /** Per-layer counts from a traced pass's output `out`, and probes that
    * call each layer's public functions on their own, under `probe`.
    */
  def probes(t: Tracer, out: String, probe: String): Map[String, Double]
}

/** kg_bulk: RunPipeline.run over the generated turns and
  * dictionary; `cfg` generated them and rebuilds their ground truth.
  */
final class Kg(spark: SparkSession, dataDir: String, cfg: GenConfig) extends Workload {
  import spark.implicits._

  private val buckets = RunPipeline.Args().buckets

  /** The turns table as RunPipeline.main reads `--turns`. */
  private def turns: Dataset[Turn] =
    spark.read.parquet(s"$dataDir/turns")
      .select(
        col("conv_id").cast("string"), col("turn_idx").cast("int"), col("role").cast("string"),
        col("text").cast("string"), col("tool").cast("string"), col("ts").cast("timestamp"))
      .as[Turn]

  // loaded once, before any pass, as RunPipeline.main does before run()
  private val dict = RunPipeline.loadDict(spark, s"$dataDir/dict")
  lazy val inputRows: Long = spark.read.parquet(s"$dataDir/turns").count()

  def settings: Seq[String] =
    Seq(s"RunPipeline.run(turns, dict, out, numBuckets = $buckets)")

  def pass(out: String): Seq[Long] = {
    val (v, e, written) = RunPipeline.run(spark, turns, dict, out, buckets)
    Seq(v, e, written)
  }

  private def manifestCounts(out: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$out/_manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".json")).maxBy(_.getName)
    val in = fs.open(latest)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(k: String) = raw""""$k":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
    (field("vertices_rows"), field("edges_rows"))
  }

  def check(out: String, counts: Seq[Long]): Seq[String] = {
    val Seq(v, e, written) = counts
    val errs = mutable.ArrayBuffer.empty[String]
    if (written != buckets) errs += s"buckets_written $written != $buckets"
    val (mv, me) = manifestCounts(out)
    if (mv != v || me != e) errs += s"manifest ($mv, $me) != Materialize.stats ($v, $e)"
    // triple precision and recall against the generator's ground truth: the
    // KGPipelineSpec gate
    val got = spark.read.parquet(s"$out/edges")
      .select($"subj", $"pred", $"obj", $"conv_id", $"turn_idx").as[(Long, String, Long, String, Int)]
      .collect().toSet
    val want = TranscriptGen.expectedTriplesLocal(cfg).map(e => (e.subj, e.pred, e.obj, e.conv_id, e.turn_idx)).toSet
    val tp = (got & want).size.toDouble
    val precision = if (got.isEmpty) 0.0 else tp / got.size
    val recall = if (want.isEmpty) 0.0 else tp / want.size
    if (precision < 0.95 || recall < 0.95)
      errs += f"triple precision $precision%.4f / recall $recall%.4f below 0.95"
    errs.toSeq
  }

  def tracedPass(t: Tracer, out: String): Seq[Long] = {
    // RunPipeline.run's calls, in its order
    val res = t.span("pipeline.KGPipeline.run")(KGPipeline.run(spark, turns, dict))
    val written = t.span("graph.writeEdges")(Materialize.writeEdges(spark, res.edges.toDF(), out, buckets))
    t.span("graph.writeVertices")(Materialize.writeVertices(res.vertices.toDF(), out))
    t.span("graph.writeManifest")(Materialize.writeManifest(spark, out))
    val (v, e) = t.span("graph.stats")(Materialize.stats(spark, out))
    Seq(v, e, written)
  }

  def probes(t: Tracer, out: String, probe: String): Map[String, Double] = {
    val (files, bytes) = Main.parquetFiles(spark, Seq(s"$out/edges", s"$out/vertices"))
    // extraction, linking and CC on their own, forced
    val valid = turns.filter((x: Turn) => x.text != null)
    val bc = spark.sparkContext.broadcast(dict.toArray)
    val (mentions, triples) = t.span("extract.extract") {
      Mentions.extract(spark, valid, bc)
        .agg(sum(size($"mentions")).cast("long"), sum(size($"triples")).cast("long"))
        .as[(Long, Long)].head()
    }
    t.span("extract.observedIds")(Mentions.observedIds(spark, valid, bc).count())
    val surfaces = dict.map(s => (s.surfaceId, s.surface))
    // the dictionary is below KGPipeline.DriverLocalLinkThreshold, so
    // KGPipeline links on the driver
    val links: Seq[(Long, Long)] = t.span("link.linkEdgesLocal") {
      Linker.linkEdgesLocal(surfaces).map(l => (l.src, l.dst))
    }
    val linked = t.span("canon.ConnectedComponents.run") {
      ConnectedComponents.run(spark, links.toDF("src", "dst"))
        .agg(count(lit(1)), countDistinct($"component")).as[(Long, Long)].head()
    }
    bc.destroy()
    val truth = Dictionary.build(cfg.seed, cfg.numEntities).map(s => s.surfaceId -> s.canonicalId).toMap
    val trueLinks = links.count { case (a, b) => truth(a) == truth(b) }
    Map(
      "extract.mentions" -> mentions.toDouble,
      "extract.triples" -> triples.toDouble,
      "link.surfaces" -> dict.size.toDouble,
      "link.edges" -> links.size.toDouble,
      "link.true_edge_frac" -> (if (links.isEmpty) 0.0 else trueLinks.toDouble / links.size),
      // canonical entities: linked components plus unlinked surfaces
      "canon.components" -> (linked._2 + dict.size - linked._1).toDouble,
      "graph.files_written" -> files.toDouble,
      "graph.bytes_written" -> bytes.toDouble)
  }
}

/** curate: RunCuration.run over the generated corpus and eval slice, with
  * the planted (doc_id, kind) `planted` labels kept for the checks. The
  * traced run also runs RunMix.run over the curated corpus and checks it.
  */
final class Curate(spark: SparkSession, dataDir: String, planted: Seq[(Long, String)]) extends Workload {
  import spark.implicits._

  private def curationFlags(out: String): List[String] = List(
    "--docs", s"$dataDir/docs", "--eval", s"$dataDir/eval", "--out", out,
    "--neardup", "lsh:0.7", "--gopher", "default", "--gopher-lines", "default",
    "--line-dedup", "8", "--redact")
  private def mixFlags(corpus: String, out: String): List[String] =
    List("--corpus", corpus, "--out", out)

  lazy val inputRows: Long = spark.read.parquet(s"$dataDir/docs").count()
  private lazy val labels = planted.toDF("doc_id", "kind")

  def settings: Seq[String] = Seq(
    "RunCuration " + curationFlags("<out>/curated").map(_.replace(dataDir, "<input>")).mkString(" "),
    "RunMix (traced run only) " + mixFlags("<out>/curated/corpus", "<out>/mix").mkString(" "))

  /** RunCuration.run, reading its inputs as RunCuration.main does. */
  private def curation(out: String): (Long, Long) = {
    val a = RunCuration.parse(curationFlags(s"$out/curated"))
    RunCuration.run(spark, spark.read.parquet(a.docs), spark.read.parquet(a.eval), a)
  }

  def pass(out: String): Seq[Long] = {
    val (in, curated) = curation(out)
    Seq(in, curated)
  }

  def check(out: String, counts: Seq[Long]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val docs = spark.read.parquet(s"$dataDir/docs")
    val shipped = spark.read.parquet(s"$out/curated/corpus").select($"doc_id", $"text")
    val n = shipped.count()
    if (n != counts(1)) errs += s"curated count $n != RunCuration.run's ${counts(1)}"
    val foreign = shipped.join(docs, Seq("doc_id"), "left_anti").count()
    if (foreign > 0) errs += s"$foreign shipped ids not in the input"
    val distinctNorm = shipped.select(TextOps.normalized($"text")).distinct().count()
    if (distinctNorm != n) errs += s"${n - distinctNorm} shipped docs share normalized text"
    shipped.join(labels.where($"kind".isin("exact_dup", "eval_overlap")), Seq("doc_id"))
      .groupBy($"kind").count().as[(String, Long)].collect()
      .foreach { case (k, c) => errs += s"$c planted $k docs shipped" }
    errs.toSeq
  }

  private val WordRules = Seq("words", "word_len", "alpha", "dup_unit", "top_ngram")
  private val LineRules = Seq("dup_line", "dup_line_chars", "bullet", "ellipsis")

  def tracedPass(t: Tracer, out: String): Seq[Long] = {
    val (in, curated) = t.span("entry.RunCuration.run")(curation(out))
    Seq(in, curated)
  }

  def probes(t: Tracer, out: String, probe: String): Map[String, Double] = {
    val a = RunCuration.parse(curationFlags(s"$out/curated"))
    // RunMix.run over the curated corpus; its token total must equal the
    // shipped docs' tokens
    val m = RunMix.parse(mixFlags(s"$out/curated/corpus", s"$out/mix"))
    t.span("entry.RunMix.run")(RunMix.run(spark, spark.read.parquet(m.corpus), m))
    val manifestTokens = spark.read.parquet(s"$out/mix/mix_manifest").select($"total_tokens").as[Long].head()
    val shippedTokens = spark.read.parquet(m.corpus)
      .agg(coalesce(sum(TextOps.tokenCount($"text")).cast("long"), lit(0L))).as[Long].head()
    require(manifestTokens == shippedTokens,
      s"mix_manifest total_tokens $manifestTokens != shipped tokens $shippedTokens")
    val docs = spark.read.parquet(a.docs)
    val eval = spark.read.parquet(a.eval)
    val (files, bytes) = Main.parquetFiles(spark, Seq(s"$out/curated/corpus", s"$out/mix/contexts"))
    // drops by rule, from the audit tables the pass wrote
    def drops(table: String, rules: Seq[String]): Seq[(String, Double)] = {
      val r = spark.read.parquet(s"$out/curated/$table").head()
      val evaluated = r.getAs[Long]("n_evaluated")
      rules.map(k => s"text.drops_$k" -> (evaluated - r.getAs[Long](s"n_${k}_ok")).toDouble)
    }
    val ruleDrops = drops("gopher_report", WordRules) ++ drops("gopher_line_report", LineRules)

    // probes: the Curation.Staged outputs counted in pipeline order, each
    // pinned so a stage's span holds only its own work
    val pinned = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): Long = {
      pinned += df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
    }
    try {
      val nIn = pin(docs)
      val s = t.span("pipeline.Curation.curateStaged") {
        Curation.curateStaged(spark, docs, eval, a.idCol, a.textCol, a.strataCol, a.evalTextCol,
          a.minTokens, a.rates, a.defaultRate, a.shingleN, a.nearDup, a.qualityFloor,
          a.maxDupFraction, a.spanShingleN, a.spanMinDf, a.spanAction, a.gopher, a.gopherLines,
          a.gopherNgrams, a.lineDedupMinDf)
      }
      val exactOut = t.span("dedup.exact")(pin(s.deduped))
      val nearOut = t.span("dedup.neardup") { s.nearDupPairs.foreach(pin); pin(s.afterNearDup) }
      val lineOut = t.span("dedup.line") { s.commonLineTable.foreach(pin); pin(s.afterLineDedup) }
      val decontamIn = pin(s.afterSpans)
      val decontamOut = t.span("dedup.decontam") { pin(s.contaminationReport); pin(s.cleaned) }
      t.span("text.gopher")(pin(s.qualified))
      pin(s.sampled)
      val shipped = s.sampled.withColumn(a.textCol, Redact.redact(col(a.textCol)))
      t.span("text.redact")(pin(shipped))
      t.span("graph.writeBucketedResumable") {
        Materialize.writeBucketedResumable(
          spark, shipped, s"$probe/corpus", a.idCol, a.buckets, Seq(a.strataCol))
      }
      val keyed = spark.read.parquet(s"$probe/corpus")
        .withColumn("n_tokens", TextOps.tokenCount(col(a.textCol)).cast("long"))
        .withColumn("mix_key", col(a.idCol).cast("long"))
      val positioned = Sampling.shufflePositions(keyed, "mix_key", m.shuffleBuckets).drop("mix_key")
      t.span("sampling.shufflePositions")(pin(positioned))
      val assigned = Sampling.packSequences(positioned, "shuffle_pos", "n_tokens", m.maxTokens, m.chunkDocs)
      t.span("sampling.packSequences")(pin(assigned))
      val sequences = t.span("sampling.sequenceTextsFromAssignment") {
        Sampling.sequenceTextsFromAssignment(positioned, assigned, "shuffle_pos", a.textCol, m.sep).count()
      }
      Map(
        "dedup.exact_in" -> nIn.toDouble, "dedup.exact_out" -> exactOut.toDouble,
        "dedup.neardup_in" -> exactOut.toDouble, "dedup.neardup_out" -> nearOut.toDouble,
        "dedup.line_in" -> nearOut.toDouble, "dedup.line_out" -> lineOut.toDouble,
        "dedup.decontam_in" -> decontamIn.toDouble, "dedup.decontam_out" -> decontamOut.toDouble,
        "sampling.sequences" -> sequences.toDouble,
        "graph.files_written" -> files.toDouble,
        "graph.bytes_written" -> bytes.toDouble) ++ ruleDrops
    } finally pinned.foreach(_.unpersist())
  }
}

/** Folds the spans into the `<module>.<metric>` per-layer metrics. */
object Layers {
  val Modules: Seq[String] = Seq("extract", "link", "canon", "pipeline", "graph", "dedup", "text", "sampling")

  /** span name -> metric holding its duration */
  private val Timed: Seq[(String, String)] = Seq(
    "graph.writeEdges" -> "graph.write_edges_s",
    "graph.writeVertices" -> "graph.write_vertices_s",
    "graph.writeManifest" -> "graph.manifest_s",
    "graph.stats" -> "graph.stats_s",
    "graph.writeBucketedResumable" -> "graph.write_bucketed_s",
    "dedup.exact" -> "dedup.exact_s",
    "dedup.neardup" -> "dedup.neardup_s",
    "dedup.line" -> "dedup.line_s",
    "dedup.decontam" -> "dedup.decontam_s",
    "text.gopher" -> "text.gopher_s",
    "text.redact" -> "text.redact_s",
    "sampling.shufflePositions" -> "sampling.shuffle_s",
    "sampling.packSequences" -> "sampling.pack_s",
    "sampling.sequenceTextsFromAssignment" -> "sampling.contexts_s",
    "entry.RunMix.run" -> "sampling.mix_run_s")

  private val Writes = Set("graph.writeEdges", "graph.writeVertices", "graph.writeBucketedResumable")

  def summarize(t: Tracer, measured: Map[String, Double], inputRows: Long): Map[String, Double] = {
    def of(pred: Span => Boolean) = t.spans.filter(pred)
    val counters = for (mod <- Modules; c <- Tracer.EngineCounters)
      yield s"$mod.$c" -> of(_.module == mod).map(_.counters.getOrElse(c, 0.0)).sum
    val selfs = Seq("extract", "link", "canon", "pipeline")
      .map(mod => s"$mod.self_s" -> of(_.module == mod).map(t.selfS).sum)
    val timed = Timed.map { case (span, metric) => metric -> of(_.name == span).map(_.durationS).sum }
    val writes = of(s => Writes(s.name))
    val extractS = of(_.module == "extract").map(t.selfS).sum
    (counters ++ selfs ++ timed).toMap ++ measured ++ Map(
      "trace.callback_s" -> t.callbackS,
      "extract.turns_per_s" -> (if (extractS > 0) inputRows / extractS else 0.0),
      "graph.jobs_per_write" ->
        (if (writes.isEmpty) 0.0 else writes.map(_.counters.getOrElse("jobs", 0.0)).sum / writes.size))
  }
}
