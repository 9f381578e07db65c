package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, launched by run.py with plain `java`:
  *
  *   perfbench.Main <workload> <seed> <workDir> <seconds> <trace 0|1>
  *                  <resultJson> <spansJson> <cores>
  *
  * Set-up ends when the Spark session is up. The input is then generated
  * (untimed) and timed closed-loop passes run until `seconds` have elapsed
  * (at least one; the first pass is the one a spark-submit job pays in its
  * fresh JVM). Each pass writes into a fresh directory, is checked, and is
  * deleted. With trace 1 the one pass is the traced pass, followed by the
  * per-layer probes, and the spans are written when the run ends.
  */
object Main {

  def session(cores: Int, localDir: String): SparkSession = {
    // mirrors the session RunPipeline.main and RunCuration.main build
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case workload :: seed :: workDir :: seconds :: trace :: result :: spans :: cores :: Nil
        if Set("kg_bulk", "curate")(workload) =>
      val spark = session(cores.toInt, s"$workDir/_local")
      val setupEndMs = System.currentTimeMillis()
      try run(spark, setupEndMs, workload, seed.toLong, workDir, seconds.toDouble, trace == "1", result, spans)
      finally spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Main kg_bulk|curate <seed> <workDir> " +
        "<seconds> <trace 0|1> <resultJson> <spansJson> <cores>")
      sys.exit(2)
  }

  final case class Pass(wallS: Double, counts: Seq[Long], errors: Seq[String], checkS: Double = 0.0)

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def timedPass(out: String, w: Workload)(body: => Seq[Long]): Pass = {
    val t0 = System.nanoTime()
    try {
      val counts = body
      val wall = (System.nanoTime() - t0) / 1e9
      val errors = w.check(out, counts)
      Pass(wall, counts, errors, (System.nanoTime() - t0) / 1e9 - wall)
    } catch {
      case e: Throwable => Pass((System.nanoTime() - t0) / 1e9, Nil, Seq(s"pass threw: $e"))
    }
  }

  def run(spark: SparkSession, setupEndMs: Long, workload: String, seed: Long, workDir: String,
      seconds: Double, trace: Boolean, resultPath: String, spansPath: String): Unit = {
    val dir = s"$workDir/input"
    val genStart = System.nanoTime()
    val w: Workload =
      if (workload == "curate") new Curate(spark, dir, Gen.curate(spark, seed, dir))
      else new Kg(spark, dir, Gen.kg(spark, seed, dir))
    val genS = (System.nanoTime() - genStart) / 1e9

    val passes = mutable.ArrayBuffer.empty[Pass]
    val layers: Map[String, Double] =
      if (!trace) {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        do {
          val out = s"$workDir/pass-${passes.size}"
          passes += timedPass(out, w)(w.pass(out))
          delete(spark, out)
        } while (System.nanoTime() < deadline)
        Map.empty
      } else {
        val tracer = new Tracer(spark, s"$workload-seed$seed-${System.currentTimeMillis()}")
        val (out, probe) = (s"$workDir/pass-0", s"$workDir/probe")
        tracer.start()
        val measured =
          try {
            passes += timedPass(out, w)(w.tracedPass(tracer, out))
            val probed =
              try if (passes.head.errors.isEmpty) w.probes(tracer, out, probe) else Map.empty[String, Double]
              catch {
                case e: Throwable =>
                  passes(0) = passes(0).copy(errors = Seq(s"probe threw: $e"))
                  Map.empty[String, Double]
              }
            probed + ("trace.pass_s" -> passes.head.wallS)
          } finally {
            tracer.stop()
            delete(spark, out)
            delete(spark, probe)
          }
        val os = new java.io.FileOutputStream(spansPath)
        try os.write(tracer.toJson.getBytes("UTF-8")) finally os.close()
        Layers.summarize(tracer, measured, w.inputRows)
      }

    val json = new StringBuilder
    json ++= s"""{"setup_end_ms":$setupEndMs,"gen_s":$genS,"input_rows":${w.inputRows},"peak_rss_mb":${peakRssMb()},"""
    json ++= s""""settings":[${w.settings.map(q).mkString(",")}],"passes":["""
    json ++= passes.map(p =>
      s"""{"wall_s":${p.wallS},"check_s":${p.checkS},"counts":[${p.counts.mkString(",")}],"errors":[${p.errors.map(q).mkString(",")}]}""")
      .mkString(",")
    json ++= s"""],"layers":{${layers.toSeq.sorted.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}}}"""
    val os = new java.io.FileOutputStream(resultPath)
    try os.write(json.toString.getBytes("UTF-8")) finally os.close()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** VmHWM of this JVM; in local mode the executors share it. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Counts the parquet files under `dirs` and their bytes. */
  def parquetFiles(spark: SparkSession, dirs: Seq[String]): (Long, Long) = {
    val fs = new Path(dirs.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = dirs.map(new Path(_)).filter(fs.exists).flatMap { p =>
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).toList
    }
    (sizes.size.toLong, sizes.sum)
  }
}
