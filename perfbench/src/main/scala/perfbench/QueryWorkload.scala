package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import Harness._

/** `query_light` and `query_heavy`: one client, one query in flight.
  *
  * One query execution = the registry builder `fn(spark, dir)`, then
  * `collect()` on the DataFrame it returns. The traced form forces the
  * builder's QueryExecution phases one at a time before the same
  * `collect()`: `analyzed` (analysis), `optimizedPlan` (optimization),
  * `executedPlan` (planning). The untraced form runs the same calls
  * without reading the clock between them. */
final class QueryWorkload(spark: SparkSession, conf: Map[String, String],
    json: Json) {

  private val registry = graft.SparkEntry.queries
  private val names = lines(conf("queries"))
  require(names.nonEmpty && names.forall(registry.contains),
    s"unknown queries: ${names.filterNot(registry.contains).mkString(",")}")
  private val data = conf("data")
  private val seed = conf("seed").toLong
  private val seconds = conf("seconds").toDouble

  private final case class Trace(name: String, wall: Double, build: Double,
      analysis: Double, optimization: Double, planning: Double,
      startMs: Long, endMs: Long, counts: Tracer.PlanCounts)

  private val gate = conf.get("gate").map(_.split(",").filter(_.nonEmpty).toSeq)
    .getOrElse(Nil)
  // the first timed result of each gate query, kept for the oracle check
  private val results = mutable.Map.empty[String, (Array[Row], StructType)]

  private def exec(name: String, dir: String): Unit = {
    val df = registry(name)(spark, dir)
    val rows = df.collect()
    if (dir == data && gate.contains(name) && !results.contains(name))
      results(name) = (rows, df.schema)
  }

  private def traced(name: String, dir: String): Trace = {
    val startMs = System.currentTimeMillis()
    val t0 = now()
    tagged(spark, name) {
      val df = registry(name)(spark, dir)
      val t1 = now()
      val qe = df.queryExecution
      qe.analyzed
      val t2 = now()
      qe.optimizedPlan
      val t3 = now()
      qe.executedPlan
      val t4 = now()
      val rows = df.collect()
      val t5 = now()
      if (gate.contains(name) && !results.contains(name)) results(name) = (rows, df.schema)
      Trace(name, t5 - t0, t1 - t0, t2 - t1, t3 - t2, t4 - t3,
        startMs, System.currentTimeMillis(), Tracer.planCounts(qe.executedPlan))
    }
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(names)

  /** One untraced pass; returns (wall, per-query walls, failures). */
  private def pass(p: Int): (Double, Seq[(String, Double)], Seq[String]) = {
    val failed = mutable.ArrayBuffer.empty[String]
    val t0 = now()
    val per = order(p).map { n =>
      val q0 = now()
      try exec(n, data) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: $e"); failed += n }
      n -> (now() - q0)
    }
    (now() - t0, per, failed.toSeq)
  }

  def run(): Unit = {
    // warm-up: every query once on the measured inputs (JIT, codegen, the
    // registry's per-input caches), four at a time to shorten set-up; the
    // timed passes below run one query at a time
    val warmFailed = parallel(names) { n =>
      try { registry(n)(spark, data).collect(); false }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $n failed: $e"); true }
    }.count(identity)
    json.num("setup_done_ms", System.currentTimeMillis().toDouble)
    json.num("warm_failed", warmFailed.toDouble)
    json.num("calib_before_s", probe(spark))
    if (conf("trace") == "1") tracedRun() else timedRun()
    json.num("calib_after_s", probe(spark))
    json.num("gate_start_ms", System.currentTimeMillis().toDouble)
    gateDump()
    json.num("gate_end_ms", System.currentTimeMillis().toDouble)
  }

  private def timedRun(): Unit = {
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)], Seq[String])]
    val t0 = now()
    var p = 0
    while (p == 0 || now() - t0 < seconds) {
      System.gc()
      passes += pass(p)
      p += 1
    }
    json.raw("pass_s", Json.arr(passes.map(x => Json.n(x._1)).toSeq))
    json.raw("query_s", Json.arr(passes.flatMap(_._2).map(x =>
      Json.arr(Seq(Json.q(x._1), Json.n(x._2)))).toSeq))
    json.num("attempted", passes.map(_._2.size).sum.toDouble)
    json.raw("failed", Json.arr(passes.flatMap(_._3).map(Json.q).toSeq))
  }

  private def tracedRun(): Unit = {
    // the first pass after the warm-up still runs slower while the JIT
    // settles and is not used. Then each query runs once untraced and once
    // traced, back to back, the two taking turns going first, so drift
    // over the pass cancels out of the tracing overhead
    System.gc()
    val (_, settlePer, failedSettle) = pass(0)
    val tracer = new Tracer(spark)
    val failed = mutable.ArrayBuffer.empty[String]
    System.gc()
    val pairs = order(0).zipWithIndex.flatMap { case (n, i) =>
      def plain(): Double = { val q0 = now(); exec(n, data); now() - q0 }
      def withTrace(): Trace = {
        tracer.install()
        try traced(n, data) finally tracer.uninstall()
      }
      try {
        if (i % 2 == 0) { val u = plain(); Some((u, withTrace())) }
        else { val t = withTrace(); Some((plain(), t)) }
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] traced $n failed: $e"); failed += n; None }
    }
    val traces = pairs.map(_._2)
    val perQuery = traces.map { t =>
      val s = tracer.sparkLayer(t.name)
      val jobS = Tracer.unionMs(s.jobIntervalsMs) / 1e3
      // driver gap: the part of the query's wall that no measured span
      // (builder, the three Catalyst phases, a Spark job) covers
      val buildEnd = t.startMs + (t.build * 1000).toLong
      val catalystEnd = buildEnd + ((t.analysis + t.optimization + t.planning) * 1000).toLong
      val covered = Tracer.unionMs(Seq((t.startMs, catalystEnd)) ++
        s.jobIntervalsMs.map { case (a, b) =>
          (math.max(a, t.startMs), math.min(b, t.endMs)) }.filter(x => x._2 > x._1)) / 1e3
      val gap = math.max(0.0, t.wall - covered)
      val c = t.counts
      t.name -> Json.obj(Seq(
        "wall_s" -> Json.n(t.wall),
        "queries.build_s" -> Json.n(t.build),
        "catalyst.analysis_s" -> Json.n(t.analysis),
        "catalyst.optimization_s" -> Json.n(t.optimization),
        "catalyst.planning_s" -> Json.n(t.planning),
        "spark.job_s" -> Json.n(jobS),
        "driver.gap_s" -> Json.n(gap),
        "spark.jobs" -> Json.n(s.jobs),
        "spark.stages" -> Json.n(s.stages),
        "spark.tasks" -> Json.n(s.tasks),
        "spark.executor_run_s" -> Json.n(s.executorRunS),
        "spark.executor_cpu_s" -> Json.n(s.executorCpuS),
        "spark.gc_s" -> Json.n(s.gcS),
        "spark.input_bytes" -> Json.n(s.inputBytes.toDouble),
        "spark.shuffle_read_bytes" -> Json.n(s.shuffleReadBytes.toDouble),
        "spark.shuffle_write_bytes" -> Json.n(s.shuffleWriteBytes.toDouble),
        "spark.spill_bytes" -> Json.n(s.spillBytes.toDouble),
        "spark.straggler_s" -> Json.n(s.stragglerS),
        "plan.exchanges" -> Json.n(c.exchanges),
        "plan.broadcast_joins" -> Json.n(c.broadcastJoins),
        "plan.sort_merge_joins" -> Json.n(c.sortMergeJoins),
        "plan.shuffled_hash_joins" -> Json.n(c.shuffledHashJoins),
        "plan.single_partition_windows" -> Json.n(c.singlePartitionWindows)))
    }
    // pass walls are sums of query walls, so the harness's own work
    // between queries (tracer set-up and drain, plan counts) is not overhead
    json.num("untraced_pass_s", pairs.map(_._1).sum)
    json.num("traced_pass_s", traces.map(_.wall).sum)
    json.raw("trace", Json.obj(perQuery))
    json.num("attempted", (settlePer.size + 2 * names.size).toDouble)
    json.raw("failed", Json.arr((failedSettle ++ failed).map(Json.q)))
  }

  /** Write the gate queries' timed results for the oracle check; a query
    * that never produced a result counts as failed. */
  private def gateDump(): Unit = {
    val dir = Paths.get(conf("out"), "gate")
    Files.createDirectories(dir)
    parallel(gate) { n =>
      results.get(n).foreach { case (rows, schema) =>
        writeGate(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
          dir.resolve(n))
      }
    }
    val oracle = gate.map(n => n -> Json.q(graft.SparkEntry.oracleSql(n)))
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(oracle))
    json.raw("gate_failed", Json.arr(gate.filterNot(results.contains).map(Json.q)))
  }
}
