package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    work: String = "",
    report: String = "",
    cores: Int = 4,
    toy: Boolean = false,
    plantWrong: Boolean = false)

object Opts {
  def parse(argv: Array[String]): Opts = {
    var o = Opts()
    var i = 0
    while (i < argv.length) {
      def v = argv(i + 1)
      argv(i) match {
        case "--workload" => o = o.copy(workload = v); i += 2
        case "--seed" => o = o.copy(seed = v.toLong); i += 2
        case "--seconds" => o = o.copy(seconds = v.toInt); i += 2
        case "--trace" => o = o.copy(trace = v == "1"); i += 2
        case "--work" => o = o.copy(work = v); i += 2
        case "--report" => o = o.copy(report = v); i += 2
        case "--cores" => o = o.copy(cores = v.toInt); i += 2
        case "--toy" => o = o.copy(toy = true); i += 1
        case "--plant-wrong" => o = o.copy(plantWrong = true); i += 1
        case other => throw new IllegalArgumentException(s"unknown argument $other")
      }
    }
    require(Set("search", "ingest", "gen-digest")(o.workload), s"unknown workload ${o.workload}")
    require(o.work.nonEmpty, "--work is required")
    o
  }
}

/** Benchmark entry: one workload, one seed, one JVM with Spark
  * `local[cores]`. Prints a context line and then, as the last line, the
  * result object (end-to-end metrics, or per-layer metrics when traced).
  */
object Main {

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    if (o.workload == "gen-digest") { println(genDigest(o.seed)); return }
    val spark = session(o)
    try {
      val ctx = new Ctx(spark, o)
      ctx.phase("session")
      val ran = o.workload match {
        case "search" => Workloads.search(ctx)
        case "ingest" => Workloads.ingest(ctx)
      }
      if (o.trace) {
        ctx.context("end_to_end") = ctx.metrics.map { case (k, (v, _)) => k -> v }.toMap
        ctx.metrics.clear()
        Layers.report(ctx, o.workload, ran)
        writeReport(ctx)
      }
      val attempted = ctx.attempted.get()
      val failed = ctx.failed.get()
      ctx.context("error_rate") = if (attempted == 0) 1.0 else failed.toDouble / attempted
      val finite = ctx.metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
      val correct = failed == 0 && attempted > 0 && finite
      println(Json.obj(Map("context" -> ctx.context.toMap)))
      val metrics = ctx.metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }
      println(Json.obj(scala.collection.immutable.ListMap(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq: _*))))
    } finally spark.stop()
  }

  /** Spans, one JSON object per line, for the traced run's report file. */
  private def writeReport(ctx: Ctx): Unit = if (ctx.opts.report.nonEmpty) {
    val f = new File(ctx.opts.report)
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try {
      val self = ctx.tracer.selfMs
      ctx.tracer.spans.sortBy(_.startNs).foreach { s =>
        out.println(Json.obj(scala.collection.immutable.ListMap("id" -> s.id,
          "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> self(s.id))))
      }
    } finally out.close()
  }

  /** SHA-256 over the first conversations of both seed regions, for the
    * generator's determinism self-test.
    */
  def genDigest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (Seq(0L, 1L, Workloads.IngestBase.toLong)).flatMap(Gen.conversation(seed, _)).foreach { t =>
      md.update(s"${t.conv_id}|${t.turn_idx}|${t.role}|${t.tool}|${t.ts.getTime}|${t.text}\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the result and report lines. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.toMap.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
