package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One operator key in a mix: its group (a read module for
  * `olap_queries`, a pipeline stage for `llm_pipeline`).
  */
final case class Op(key: String, group: String)

/** A closed loop over a fixed list of the program's operator keys: one
  * client runs every key once per round, in an order shuffled from the
  * seed. A run makes `seconds / roundSeconds` rounds (at least one), where
  * `roundSeconds` is a round's nominal length on the reference host: a
  * fixed amount of work per run length, so runs differ only in how fast
  * they go. Each call is `fn(spark, dir)` (the build) followed by
  * `collect()` (the action).
  *
  * The first result of every key is kept for the checks; every later
  * result of the same key must equal it.
  */
final class KeyMix(data: String, out: String, ops: Seq[Op], seed: Long,
    roundSeconds: Double) extends Workload {
  private val fns = ops.map(o => o -> graft.SparkEntry.queries(o.key))
  // key, group, build seconds, action seconds (successful calls only)
  private val calls = ArrayBuffer.empty[(String, String, Double, Double)]
  private val failed = ArrayBuffer.empty[String]
  private val first = mutable.Map.empty[String, (StructType, Array[Row])]
  private val drift = mutable.Set.empty[String]
  private var rounds = 0

  def warmUp(s: SparkSession): Unit =
    fns.foreach { case (_, fn) => scala.util.Try(fn(s, data).collect()) }

  def run(s: SparkSession, seconds: Double, trace: Option[Trace]): Unit = {
    val rng = new scala.util.Random(seed)
    val n = math.max(1, math.round(seconds / roundSeconds).toInt)
    while (rounds < n) {
      rng.shuffle(fns).foreach { case (op, fn) => call(s, op, fn, trace) }
      rounds += 1
    }
  }

  private def call(s: SparkSession, op: Op,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      trace: Option[Trace]): Unit = {
    val t0 = System.nanoTime()
    try {
      val df = fn(s, data)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val (build, action) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      calls += ((op.key, op.group, build, action))
      trace.foreach { t =>
        val workload = op.group.takeWhile(_ != '.')
        t.add(s"$workload.build_s", build)
        t.add(s"$workload.action_s", action)
        t.add(s"${op.group}_s", build + action)
      }
      first.get(op.key) match {
        case None => first(op.key) = (df.schema, rows)
        case Some((_, r0)) => if (!r0.sameElements(rows)) drift += op.key
      }
    } catch {
      case e: Throwable =>
        failed += s"${op.key}: ${e.toString.linesIterator.nextOption().getOrElse("").take(300)}"
        trace.foreach(_.add(s"${op.group}_s", (System.nanoTime() - t0) / 1e9))
    }
  }

  def finish(s: SparkSession): Unit = {
    first.foreach { case (key, (schema, rows)) =>
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"$out/results/$key")
    }
    val oracle = ops.flatMap(o => graft.SparkEntry.oracleSql.get(o.key).map(o.key -> _))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }: _*))
  }

  def attempted: Long = rounds.toLong * ops.size
  def failures: Seq[String] = failed.toSeq

  def record: String = Json.obj(
    "rounds" -> Json.num(rounds.toLong),
    "drift" -> Json.arr(drift.toSeq.sorted.map(Json.str)),
    "calls" -> Json.arr(calls.toSeq.map { case (k, g, b, a) =>
      Json.arr(Seq(Json.str(k), Json.str(g), Json.num(b), Json.num(a)))
    }))
}

object KeyMix {
  /** Short read-side dashboard queries over the relational and `events`
    * tables, all with an `oracleSql`: keys of every read module, a
    * bloom-index scan and a routed projection read (`mv_route` groups the
    * routed reads). Chosen from the keys under about half a second at sf0.1
    * on four cores.
    */
  val olap: Seq[Op] = Seq(
    "scan_parquet" -> "scans", "scan_bloom_index" -> "scans",
    "filter_null" -> "projections",
    "agg_ztest" -> "aggregates",
    "join_anti" -> "joins",
    "win_first_last" -> "windows",
    "fn_cidr" -> "fns", "fn_tuple" -> "fns",
    "ts_ema" -> "event_analytics",
    "limit_topk" -> "sort_set_ops", "set_union" -> "sort_set_ops",
    "sql_topk" -> "sql_api",
    "projection_route" -> "mv_route",
  ).map { case (k, m) => Op(k, s"olap.$m") }

  /** LLM data-prep keys over the corpus and embeddings: text statistics,
    * exact and n-gram near-duplicate removal, near-duplicate clustering
    * (DedupGraph), exact IVF search and approximate LSH search, and
    * `tok_bpe_train`, which fails on every call with a non-ASCII
    * vocabulary (LlmText's ASCII `require`).
    */
  val llm: Seq[Op] = Seq(
    "text_stats" -> "text", "tok_bpe_train" -> "text",
    "dedup_exact_hash" -> "dedup", "dedup_ngram_jaccard" -> "dedup",
    "dedup_cluster" -> "graph",
    "sim_ivf_knn" -> "vector", "sim_lsh_knn" -> "vector",
  ).map { case (k, g) => Op(k, s"llm.$g") }
}
