package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` generates the inputs, launches this
  * main with a `key=value` argument list, and turns the JSON it writes
  * into the reported metrics. One process runs one workload:
  *
  *  - `query_light` / `query_heavy`: warm up, then timed passes over the
  *    query list in seeded shuffled order until the run length is used
  *    (one query in flight at a time), then the gate dump: each query's
  *    first timed result, for the DuckDB oracle;
  *  - `pipeline_cdc`: one timed CDC history — cold load, CDC waves,
  *    no-change reruns, fixed reads — then the gate dump of every
  *    published silver, active-view and gold table.
  *
  * With `trace=1` the timed region is replaced by untraced and traced
  * passes over the same work; the traced pass records per-layer numbers
  * (see [[Tracer]]) and its wall minus the untraced wall is the tracing
  * overhead.
  */
object Harness {

  // Tee of stderr that keeps every `[pipeline ...]` line with its arrival
  // time. Installed before anything touches scala.Console, so the engine's
  // Console.err logging goes through it too.
  final class LineTee(under: OutputStream) extends OutputStream {
    private val buf = new ByteArrayOutputStream()
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    override def write(b: Int): Unit = synchronized {
      under.write(b)
      if (b == '\n') flushLine() else buf.write(b)
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = synchronized {
      under.write(b, off, len)
      var i = off
      while (i < off + len) {
        if (b(i) == '\n') flushLine() else buf.write(b(i).toInt)
        i += 1
      }
    }
    override def flush(): Unit = under.flush()
    private def flushLine(): Unit = {
      val s = buf.toString(StandardCharsets.UTF_8)
      buf.reset()
      if (s.startsWith("[pipeline ")) lines += ((System.currentTimeMillis(), s))
    }
    def since(ms: Long): Seq[(Long, String)] = synchronized(lines.filter(_._1 >= ms).toSeq)
  }

  val tee = new LineTee(new java.io.FileOutputStream(java.io.FileDescriptor.err))

  def main(args: Array[String]): Unit = {
    System.setErr(new PrintStream(tee, true, "UTF-8"))
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    val spark = session(conf)
    val json = new Json
    json.num("session_ready_ms", System.currentTimeMillis().toDouble)
    try {
      conf("workload") match {
        case "query_light" | "query_heavy" => new QueryWorkload(spark, conf, json).run()
        case "pipeline_cdc" => new PipelineWorkload(spark, conf, json).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.writeString(out.resolve("result.json"), json.render)
    } finally spark.stop()
  }

  def session(conf: Map[String, String]): SparkSession = {
    val work = conf("work")
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
    val spark = graft.analytics.GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Graft.Bench's fixed CPU+shuffle calibration workload (one pass). */
  def calibrationPass(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 8L * 1000L * 1000L, 1L, 32)
      .select(pmod(xxhash64(col("id")), lit(4096L)).as("k"),
        pmod(xxhash64(col("id"), lit(1L)), lit(1048576L)).as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .agg(sum(col("s")), sum(col("n"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Environment probe, with graft.Bench's protocol: three warm passes,
    * then the fastest of three timed passes, each after a full GC. */
  def probe(spark: SparkSession): Double = {
    (1 to 3).foreach(_ => calibrationPass(spark))
    (1 to 3).map { _ => System.gc(); calibrationPass(spark) }.min
  }

  def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  def now(): Double = System.nanoTime() / 1e9

  /** Run `f` with every Spark job it submits tagged `span`. */
  def tagged[T](spark: SparkSession, span: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, span)
    try f finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  def writeGate(df: DataFrame, dir: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)

  /** `f` over `xs` on four threads; returns the results in order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}

/** Minimal JSON writer for the result file. */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = Json.n(v)
  def str(k: String, v: String): Unit = fields(k) = Json.q(v)
  def raw(k: String, v: String): Unit = fields(k) = v
  def render: String = fields.map { case (k, v) => s"${Json.q(k)}:$v" }
    .mkString("{", ",", "}")
}

object Json {
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
