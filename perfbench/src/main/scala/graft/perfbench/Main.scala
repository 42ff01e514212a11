package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload over inputs `perfbench/gen.py` generated,
  * and writes what it measured and what the program produced to
  * `<out>/run.json` and `<out>/results/`. `perfbench/run.py` launches it,
  * checks the outputs and prints the result line.
  *
  *   Main <workload> <data dir> <out dir> <seconds> <trace 0|1> <seed>
  *
  * Set-up runs from the start of main to the first timed operation: a
  * Spark session, started SetupReps times (each over a fresh scratch root;
  * the last one serves the run, the median start is reported apart), and
  * the workload's untimed warm-up, in which the program stages the fixtures
  * its operations read. The timed region follows.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val Array(name, data, out, seconds, traced, seed) = args
    val workload: Workload = name match {
      case "cdc_ingest" => new CdcIngest(data, out)
      case "olap_queries" => new KeyMix(data, out, KeyMix.olap, seed.toLong, 3.0)
      case "llm_pipeline" => new KeyMix(data, out, KeyMix.llm, seed.toLong, 6.0)
      case other => sys.error(s"unknown workload $other")
    }
    if (traced == "1") Trace.confs.foreach { case (k, v) => System.setProperty(k, v) }
    val sessions = (1 to SetupReps).map { rep =>
      val t0 = if (rep == 1) started else System.nanoTime()
      val tmp = new File(s"$out/tmp/session$rep")
      require(tmp.mkdirs(), s"cannot create $tmp")
      System.setProperty("java.io.tmpdir", tmp.getPath)
      val s = graft.Sessions.localHarness(
        Runtime.getRuntime.availableProcessors, "ERROR")
      val secs = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) s.stop()
      secs
    }
    val spark = SparkSession.active
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - started) / 1e9}%.1fs")
    mark("sessions started")
    val w0 = System.nanoTime()
    workload.warmUp(spark)
    val warmUp = (System.nanoTime() - w0) / 1e9
    mark("warm-up done")
    val setup = (System.nanoTime() - started) / 1e9
    val trace = if (traced == "1") Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    workload.run(spark, seconds.toDouble, trace)
    val wall = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    trace.foreach { t =>
      t.stop()
      t.add("scratch.stagings_timed", stagedWithin(
        new File(sys.props("java.io.tmpdir")), wall0, wall1).toDouble)
    }
    mark("timed region done")
    workload.finish(spark)
    mark("outputs written")
    val rec = Json.obj(
      "setup_s" -> Json.num(setup),
      "session_s" -> Json.arr(sessions.map(Json.num)),
      "warm_up_s" -> Json.num(warmUp),
      "wall_s" -> Json.num(wall),
      "attempted" -> Json.num(workload.attempted),
      "failed" -> Json.num(workload.failures.size),
      "failures" -> Json.arr(workload.failures.map(Json.str)),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "cpus" -> Json.num(Runtime.getRuntime.availableProcessors),
      "workload" -> workload.record,
      "layers" -> Json.obj(trace.toSeq.flatMap(_.values.toSeq.sorted)
        .map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(s"$out/run.json"), rec)
    spark.stop()
  }

  /** `.graft_staged` markers the program wrote between two wall instants. */
  private def stagedWithin(root: File, from: Long, to: Long): Int = {
    val kids = Option(root.listFiles()).getOrElse(Array.empty[File])
    kids.map { f =>
      if (f.isDirectory) stagedWithin(f, from, to)
      else if (f.getName == ".graft_staged" &&
          f.lastModified >= from && f.lastModified <= to) 1
      else 0
    }.sum
  }

  /** The process's peak resident set (VmHWM). */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** One workload: warmed once, timed, then asked for the outputs the
  * checks read.
  */
trait Workload {
  def warmUp(s: SparkSession): Unit
  def run(s: SparkSession, seconds: Double, trace: Option[Trace]): Unit
  def finish(s: SparkSession): Unit
  def attempted: Long
  def failures: Seq[String]
  /** Raw measurements (JSON) the result line is computed from. */
  def record: String
}

/** Just enough JSON writing for run.json. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def str(v: String): String = {
    val b = new StringBuilder("\"")
    v.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
