package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.plans.MvRouting
import graft.streaming.StreamOps

/** Canal change envelopes into the MergeTree-emulated orders table and
  * its per-customer aggregate MV, wired the way the program's
  * `stream_mv_maintain` wires it: a file-source stream with
  * `Cdc.envelopeSchema`, `foreachBatch(StreamOps.mvMaintainBatch)` on a
  * session with eight shuffle partitions and MV routing enabled. After
  * each micro-batch commits, a plain aggregate over the published base is
  * read; MvRouting must serve it from the MV.
  *
  * Phase 1 (catch-up, closed loop): the generated backlog is in the
  * watched directory when the stream starts, and is drained as fast as
  * the pipeline goes, a bounded number of files per micro-batch; the
  * first micro-batch pays the cold start a restarted replica pays. Phase 2 (steady, open loop): pre-written envelope
  * files are renamed into the watched directory on a fixed schedule; a
  * file's commit lag runs from its scheduled drop to the end of the
  * micro-batch that applied it (after its routed read).
  */
final class CdcIngest(data: String, out: String) extends Workload {
  private val meta = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$data/cdc.properties")
    try p.load(in) finally in.close()
    p
  }
  private val intervalS = meta.getProperty("interval_s").toDouble
  private val maxFiles = meta.getProperty("max_files_per_trigger")
  private def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq

  private val root = s"$out/cdc"
  private val feed = s"$root/feed"
  private val stateDir = s"$root/merge_state"
  private val baseDir = s"$root/smm_base"
  private val mvDir = s"$root/smm_mv"
  private val ckpt = s"$root/ckpt"

  // measurements, in seconds from the start of the current phase
  private var phaseStart = 0L
  private val batches = Seq.fill(2)(ArrayBuffer.empty[(Long, Double, Double)])
  private var phase = 0
  private val drops = ArrayBuffer.empty[(String, Double, Double)]
  private var unrouted = 0
  private var maintainS = 0.0
  private var probeS = 0.0
  private var lastProbe: (StructType, Array[Row]) = _
  private val phaseMv = ArrayBuffer.empty[(StructType, Array[Row])]

  /** The stream's session, as `stream_mv_maintain` sizes it. */
  private def streamSession(s: SparkSession): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", "8")
    MvRouting.enable(c)
    c
  }

  private def probe(s: SparkSession, base: String): DataFrame =
    s.read.parquet(base).groupBy(col("o_custkey"))
      .agg(graft.Det.dsum(col("o_totalprice")).as("spend"),
        count(lit(1)).as("n_orders"))

  private def start(s: SparkSession, dir: String, checkpoint: String,
      trigger: Trigger, batch: (DataFrame, Long) => Unit,
      filesPerBatch: Option[String] = None): StreamingQuery =
    filesPerBatch.foldLeft(s.readStream.schema(graft.operators.Cdc.envelopeSchema))(
        _.option("maxFilesPerTrigger", _))
      .json(dir)
      .writeStream
      .foreachBatch(batch)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger).start()

  /** None: phase 1 is the catch-up after a restart, and pays the cold
    * start a restarted replica pays.
    */
  def warmUp(s: SparkSession): Unit = ()

  def run(s: SparkSession, seconds: Double, trace: Option[Trace]): Unit = {
    val cs = streamSession(s)
    new File(feed).mkdirs()
    trace.foreach(_.layerOf = (qe, path) => path match {
      case Some(p) if p.contains("merge_state") => Some("cdc.merge_s")
      case Some(p) if p.contains("smm_base") => Some("cdc.publish_s")
      case Some(p) if p.contains("smm_mv") => Some("mv.fold_s")
      case Some(_) => None
      // reads: the routed probe is timed around its call; the rest
      // (the touched-bucket probe) belongs to the merge
      case None =>
        if (qe.executedPlan.toString.contains("smm_mv")) None
        else Some("cdc.merge_s")
    })
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      StreamOps.mvMaintainBatch(batch, id, stateDir, baseDir, mvDir)
      val t1 = System.nanoTime()
      val p = probe(cs, baseDir)
      val rows = p.collect()
      val t2 = System.nanoTime()
      val plan = p.queryExecution.executedPlan.toString
      if (!plan.contains("smm_mv") || plan.contains("smm_base")) unrouted += 1
      lastProbe = (p.schema, rows)
      maintainS += (t1 - t0) / 1e9
      probeS += (t2 - t1) / 1e9
      batches(phase) += ((id, (t0 - phaseStart) / 1e9, (t2 - phaseStart) / 1e9))
    }

    // phase 1: the backlog has arrived before the consumer starts
    files(s"$data/backlog").foreach(f => move(f, new File(feed, f.getName)))
    phaseStart = System.nanoTime()
    start(cs, feed, ckpt, Trigger.AvailableNow(), applyBatch, Some(maxFiles))
      .awaitTermination()
    phaseMv += lastProbe
    copyTree(new File(baseDir), new File(s"$out/results/p1_base"))

    // phase 2: envelope files dropped on schedule while the stream runs
    val steady = files(s"$data/steady")
    phase = 1
    val q = start(cs, feed, ckpt, Trigger.ProcessingTime(0L), applyBatch)
    phaseStart = System.nanoTime()
    steady.zipWithIndex.foreach { case (f, i) =>
      val due = phaseStart + (i * intervalS * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      move(f, new File(feed, f.getName))
      drops += ((f.getName, (due - phaseStart) / 1e9,
        (System.nanoTime() - phaseStart) / 1e9))
    }
    q.processAllAvailable()
    q.stop()
    phaseMv += lastProbe
    trace.foreach { t =>
      t.add("mv.probe_s", probeS)
      t.add("cdc.maintain_s", maintainS)
      t.add("cdc.state_bytes", Seq(stateDir, baseDir, mvDir)
        .map(d => bytes(new File(d))).sum.toDouble)
      t.add("cdc.envelope_bytes", (files(feed).map(_.length).sum).toDouble)
    }
  }

  def finish(s: SparkSession): Unit = {
    copyTree(new File(baseDir), new File(s"$out/results/p2_base"))
    phaseMv.zipWithIndex.foreach { case ((schema, rows), i) =>
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(s"$out/results/p${i + 1}_mv")
    }
    MvRouting.invalidate(baseDir)
  }

  def attempted: Long = meta.getProperty("events").toLong
  def failures: Seq[String] =
    if (unrouted == 0) Nil else Seq(s"probe: $unrouted reads not served by the MV")

  def record: String = Json.obj(
    "unrouted" -> Json.num(unrouted.toLong),
    // per phase: (micro-batch id, start, end) in seconds from the phase start
    "batches" -> Json.arr(batches.map(ph => Json.arr(ph.toSeq.map { case (id, t0, t1) =>
      Json.arr(Seq(Json.num(id), Json.num(t0), Json.num(t1))) }))),
    "drops" -> Json.arr(drops.toSeq.map { case (n, due, at) =>
      Json.arr(Seq(Json.str(n), Json.num(due), Json.num(at))) }))

  private def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)

  private def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytes).sum
    else f.length

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath)
}
