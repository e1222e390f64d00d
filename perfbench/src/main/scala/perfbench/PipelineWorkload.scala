package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.config.{ConfigLoader, PipelineParams}
import graft.pipeline.PipelineRunner

import Harness._

/** `pipeline_cdc`: triggered `PipelineRunner.run` calls over a CDC history
  * that `run.py` generated. The history file lists the config and, per
  * step, the source files that arrive before it:
  *
  * {{{
  * config <dp_config_template.json>
  * entities <e1,e2,...>
  * step <cold|wave|noop> <ingest clock>
  * file <entity> <parquet file> <mtime offset ms, 0 = delivery time>
  * }}}
  *
  * A step copies its files into `src/<entity>/`, then times one run. After
  * the last step come the fixed reads of the published tables. */
final class PipelineWorkload(spark: SparkSession, conf: Map[String, String],
    json: Json) {

  private final case class Delivery(entity: String, file: String, mtimeMs: Long)
  private final case class Step(kind: String, clock: String,
      files: mutable.ArrayBuffer[Delivery])
  private final case class History(config: String, entities: Seq[String],
      steps: Seq[Step])

  private def history(path: String): History = {
    var config = ""
    var entities = Seq.empty[String]
    val steps = mutable.ArrayBuffer.empty[Step]
    lines(path).foreach { l =>
      l.split(" ", 2) match {
        case Array("config", p) => config = p
        case Array("entities", es) => entities = es.split(",").toSeq
        case Array("step", rest) =>
          val Array(kind, clock) = rest.split(" ", 2)
          steps += Step(kind, clock, mutable.ArrayBuffer.empty)
        case Array("file", rest) =>
          val Array(e, f, m) = rest.split(" ")
          steps.last.files += Delivery(e, f, m.toLong)
        case _ => throw new IllegalArgumentException(s"bad history line: $l")
      }
    }
    History(config, entities, steps.toSeq)
  }

  private val concurrency = 3

  /** One pipeline workspace: source dir, storage root and catalog. */
  private final class Workspace(root: Path, catalog: String, h: History) {
    val src: Path = root.resolve("src")
    val store: Path = root.resolve("store")
    Files.createDirectories(src)
    h.entities.foreach(e => Files.createDirectories(src.resolve(e)))
    Files.copy(Paths.get(h.config), src.resolve("dp_config_template.json"),
      StandardCopyOption.REPLACE_EXISTING)
    private val configs = ConfigLoader.load(spark, src.toString)

    def params(clock: String): PipelineParams = PipelineParams(
      sourceLocation = src.toString, catalogName = catalog, softDeletes = "Y",
      fixedIngestedAt = Some(java.sql.Timestamp.valueOf(clock)))

    def deliver(step: Step): Unit = step.files.foreach { d =>
      val dest = src.resolve(d.entity).resolve(Paths.get(d.file).getFileName)
      Files.copy(Paths.get(d.file), dest, StandardCopyOption.REPLACE_EXISTING)
      // a negative mtime is relative to delivery: a late file that
      // predates the files already ingested
      if (d.mtimeMs < 0) Files.setLastModifiedTime(dest,
        FileTime.fromMillis(System.currentTimeMillis() + d.mtimeMs))
    }

    def run(step: Step): Double = {
      val t0 = now()
      new PipelineRunner(spark, params(step.clock), store.toString)
        .run(configs, concurrency = concurrency)
      now() - t0
    }
  }

  /** Fixed reads of the published tables, as an analyst would run them. */
  private def reads(p: PipelineParams): Seq[String] = Seq(
    s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
      s"sum(l_extendedprice) AS s FROM ${p.activeViewFqn("lineitem")} GROUP BY 1, 2",
    s"SELECT * FROM ${p.goldFqn("lineitem")} WHERE l_orderkey % 97 = 5",
    s"SELECT * FROM ${p.goldFqn("orders")}",
    s"SELECT segment, count(*) AS n, sum(o_totalprice) AS s " +
      s"FROM ${p.goldFqn("customer")} GROUP BY segment",
    s"SELECT * FROM ${p.silverFqn("orders")} WHERE o_custkey BETWEEN 100 AND 400",
    s"SELECT c_mktsegment, count(*) AS n FROM ${p.activeViewFqn("customer")} GROUP BY 1")

  /** relative path -> (bytes, mtime) of every file under `root`. */
  private def tree(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        root.relativize(f).toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }

  /** One history replayed into its own workspace, step by step. `wall` is
    * the sum of the steps' `PipelineRunner.run` walls; the storage-tree
    * walks and the tracer's drain around a step are not in it. */
  private final class Lane(root: Path, catalog: String, h: History,
      tracer: Option[Tracer]) {
    val ws = new Workspace(root, catalog, h)
    val runs = mutable.ArrayBuffer.empty[String]
    var wall = 0.0

    def step(s: Step, i: Int): Unit = {
      ws.deliver(s)
      val before = tree(ws.store)
      val span = s"${s.kind}-$i"
      tracer.foreach(_.install())
      val startMs = System.currentTimeMillis()
      val w = tagged(spark, span)(ws.run(s))
      val endMs = System.currentTimeMillis()
      tracer.foreach(_.uninstall())
      wall += w
      val written = PipelineWorkload.written(before, tree(ws.store))
      val fields = mutable.ArrayBuffer[(String, String)](
        "kind" -> Json.q(s.kind), "wall_s" -> Json.n(w),
        "written" -> Json.obj(written.toSeq.sortBy(_._1).map { case (a, (b, n)) =>
          a -> Json.obj(Seq("bytes" -> Json.n(b.toDouble), "files" -> Json.n(n.toDouble)))
        }),
        "log" -> Json.arr(tee.since(startMs).filter(_._1 <= endMs + 5).map {
          case (ms, l) => Json.arr(Seq(Json.n((ms - startMs) / 1e3), Json.q(l)))
        }))
      tracer.foreach(t => fields ++= layerFields(t, span, startMs, endMs, w))
      runs += Json.obj(fields.toSeq)
    }
  }

  private def layerFields(t: Tracer, span: String, startMs: Long, endMs: Long,
      wall: Double): Seq[(String, String)] = {
    val sl = t.sparkLayer(span)
    val ex = t.executionsIn(startMs, endMs)
    val bs = t.batchesIn(startMs, endMs)
    val jobS = Tracer.unionMs(sl.jobIntervalsMs) / 1e3
    val cat = ex.map(e => e.analysisMs + e.optimizationMs + e.planningMs).sum / 1e3
    Seq(
      "catalyst.analysis_s" -> Json.n(ex.map(_.analysisMs).sum / 1e3),
      "catalyst.optimization_s" -> Json.n(ex.map(_.optimizationMs).sum / 1e3),
      "catalyst.planning_s" -> Json.n(ex.map(_.planningMs).sum / 1e3),
      "spark.job_s" -> Json.n(jobS),
      "driver.gap_s" -> Json.n(math.max(0.0, wall - jobS - cat)),
      "spark.jobs" -> Json.n(sl.jobs),
      "spark.stages" -> Json.n(sl.stages),
      "spark.tasks" -> Json.n(sl.tasks),
      "spark.executor_run_s" -> Json.n(sl.executorRunS),
      "spark.executor_cpu_s" -> Json.n(sl.executorCpuS),
      "spark.gc_s" -> Json.n(sl.gcS),
      "spark.input_bytes" -> Json.n(sl.inputBytes.toDouble),
      "spark.shuffle_read_bytes" -> Json.n(sl.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> Json.n(sl.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> Json.n(sl.spillBytes.toDouble),
      "spark.straggler_s" -> Json.n(sl.stragglerS),
      "spark.rows_written" -> Json.n(sl.rowsWritten.toDouble),
      "stream.batches" -> Json.n(bs.size),
      "stream.add_batch_s" -> Json.n(bs.map(_.addBatchMs).sum / 1e3),
      "stream.planning_s" -> Json.n(bs.map(_.planningMs).sum / 1e3),
      "stream.commit_s" -> Json.n(bs.map(_.commitMs).sum / 1e3))
  }

  /** Replay `h` into every lane, step by step. The lanes take turns going
    * first, so drift over the run falls evenly on them. */
  private def replay(h: History, lanes: Seq[Lane]): Unit =
    h.steps.zipWithIndex.foreach { case (s, i) =>
      (if (i % 2 == 0) lanes else lanes.reverse).foreach(_.step(s, i))
    }

  def run(): Unit = {
    val work = Paths.get(conf("work"))
    // no warm-up: the cold load is the session's first pipeline run, as it
    // is for a triggered job
    json.num("setup_done_ms", System.currentTimeMillis().toDouble)
    json.num("calib_before_s", probe(spark))

    val h = history(conf("history"))
    if (conf("trace") == "1") {
      // a first history warms the JIT; then an untraced and a traced
      // history run side by side, and the difference of their walls is
      // the tracing overhead
      replay(h, Seq(new Lane(work.resolve("warm"), "warm", h, None)))
      val tracer = new Tracer(spark)
      val base = new Lane(work.resolve("untraced"), "untraced", h, None)
      val traced = new Lane(work.resolve("bench"), "bench", h, Some(tracer))
      replay(h, Seq(base, traced))
      json.num("untraced_pass_s", base.wall)
      json.num("traced_pass_s", traced.wall)
      json.raw("runs", Json.arr(traced.runs.toSeq))
      val p = traced.ws.params(h.steps.last.clock)
      tracer.install()
      val t0 = System.currentTimeMillis()
      reads(p).foreach(q => spark.sql(q).collect())
      tracer.uninstall()
      json.num("read.files_scanned", tracer.executionsIn(t0,
        System.currentTimeMillis()).map(_.filesScanned).sum.toDouble)
      storeFigures(h, traced.ws)
    } else {
      val lane = new Lane(work.resolve("bench"), "bench", h, None)
      replay(h, Seq(lane))
      json.raw("runs", Json.arr(lane.runs.toSeq))
      val p = lane.ws.params(h.steps.last.clock)
      // fixed reads, two rounds; the reported read time is their median
      val qs = reads(p)
      json.raw("read_s", Json.arr((1 to 2).map { _ =>
        val t0 = now()
        qs.foreach(q => spark.sql(q).collect())
        Json.n(now() - t0)
      }))
      storeFigures(h, lane.ws)
      gateDump(h, lane.ws, work.resolve("bench").resolve("gate"))
    }
    json.num("calib_after_s", probe(spark))
  }

  /** Live files of the published tables and bytes under the storage root. */
  private def storeFigures(h: History, ws: Workspace): Unit = {
    val p = ws.params(h.steps.last.clock)
    val live = h.entities.flatMap { e =>
      Seq(p.silverFqn(e), p.goldFqn(e)).filter(spark.catalog.tableExists)
        .map(t => spark.table(t).inputFiles.length)
    }.sum
    json.num("store.live_files", live.toDouble)
    json.num("store.bytes", tree(ws.store).values.map(_._1).sum.toDouble)
  }

  /** The published tables, one file each, for the independent recompute.
    * The silver and gold files double as the compact rewrite that is the
    * denominator of the space amplification. */
  private def gateDump(h: History, ws: Workspace, gate: Path): Unit = {
    val p = ws.params(h.steps.last.clock)
    parallel(h.entities.flatMap { e =>
      Seq("silver" -> p.silverFqn(e), "active" -> p.activeViewFqn(e),
        "gold" -> p.goldFqn(e)).filter(x => spark.catalog.tableExists(x._2))
        .map { case (k, t) => (t, gate.resolve(s"${k}_$e")) }
    }) { case (t, dir) => writeGate(spark.table(t), dir) }
    json.num("compact_bytes", tree(gate).filter { case (f, _) =>
      f.endsWith(".parquet") && !f.startsWith("active_") }.values.map(_._1).sum.toDouble)
    json.str("gate_dir", gate.toString)
  }
}

object PipelineWorkload {
  /** Files new or rewritten between two trees, per storage area. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    after.toSeq.filter { case (k, v) => !before.get(k).contains(v) }
      .groupBy { case (k, _) => area(k) }
      .map { case (a, fs) => a -> (fs.map(_._2._1).sum, fs.size.toLong) }

  /** Storage area of a path under the storage root: stream checkpoints,
    * feeds and mart stores are `state`; table data is `bronze`, `silver`
    * or `gold`. */
  def area(rel: String): String = {
    val parts = rel.split("/")
    if (parts.exists(p => p.contains("checkpoint") || p.startsWith("_feed") ||
        p.contains("state") || p == "_checkpoints")) "state"
    else parts.head match {
      case "bronze" | "silver" | "gold" => parts.head
      case _ => "state"
    }
  }
}
