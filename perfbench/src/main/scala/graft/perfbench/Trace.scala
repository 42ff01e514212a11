package graft.perfbench

import java.util.concurrent.atomic.DoubleAdder

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer counters of a traced run, fed by a SparkListener (jobs,
  * stages, tasks, bytes), a QueryExecutionListener (SQL execution time,
  * Catalyst phases, written files), a StreamingQueryListener (micro-batch
  * phases), the JVM's GC beans and Spark's CodegenMetrics. Timers the
  * workloads keep around their own calls into the program add to the
  * same table.
  */
final class Trace(spark: SparkSession) {
  private val sums = TrieMap.empty[String, DoubleAdder]

  def add(name: String, v: Double): Unit =
    sums.getOrElseUpdate(name, new DoubleAdder).add(v)

  /** The layer an SQL execution is charged to, from its plan and the path
    * it writes, if any.
    */
  @volatile var layerOf: (QueryExecution, Option[String]) => Option[String] =
    (_, _) => None

  // a QueryExecution reports once per action; its planning phases count once
  private val planned = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("exec.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      add("exec.task_s", e.taskInfo.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private[perfbench] def onSql(qe: QueryExecution, ns: Long): Unit = {
    add("exec.sql_s", ns / 1e9)
    if (planned.synchronized(planned.add(qe)))
      qe.tracker.phases.foreach { case (phase, p) =>
        phase match {
          case "analysis" | "optimization" | "planning" =>
            add(s"catalyst.${phase}_s", p.durationMs / 1e3)
          case _ =>
        }
      }
    Plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
      .foreach(_.cmd.metrics.get("numFiles")
        .foreach(m => add("exec.output_files", m.value.toDouble)))
    val path = qe.logical.collectFirst {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }
    layerOf(qe, path).foreach(add(_, ns / 1e9))
  }

  private[perfbench] def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }
    def ms(k: String) = d.getOrElse(k, 0.0)
    add("stream.batches", 1)
    add("stream.trigger_s", ms("triggerExecution"))
    add("stream.source_s", ms("latestOffset") + ms("getBatch"))
    add("stream.wal_s", ms("walCommit") + ms("commitOffsets"))
    add("stream.add_batch_s", ms("addBatch"))
  }

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val compiles =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private def compileMs: Double = compiles.getSnapshot.getValues.map(_.toDouble).sum
  private var gc0 = 0L
  private var compile0 = (0L, 0.0)

  /** Starts counting: from here on every layer is charged. */
  def start(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    Trace.current = this
    gc0 = gcMs
    compile0 = (compiles.getCount, compileMs)
  }

  /** Stops counting once every event of the timed region is delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    Trace.current = null
    add("gc.s", (gcMs - gc0) / 1e3)
    // Janino compiles are timed in whole ms by Spark's own histogram,
    // whose reservoir holds every sample up to its size (1028 compiles);
    // past that only the sampled mean is known
    val n = compiles.getCount - compile0._1
    val ms =
      if (compiles.getCount <= 1028) compileMs - compile0._2
      else compiles.getSnapshot.getMean * n
    add("codegen.compiles", n.toDouble)
    add("codegen.compile_s", ms / 1e3)
  }

  def values: Map[String, Double] = sums.map { case (k, v) => k -> v.sum }.toMap
}

/** The SQL and streaming listeners are installed through Spark's
  * listener confs, so that every session the program clones reports to
  * them; they forward to the trace that is counting, if any.
  */
/** Plan traversal that sees through adaptive query execution. */
private object Plans extends AdaptiveSparkPlanHelper

object Trace {
  @volatile private[perfbench] var current: Trace = null

  val confs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[SqlListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)
}

class SqlListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Option(Trace.current).foreach(_.onSql(qe, ns))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Trace.current).foreach(_.onProgress(e))
}
