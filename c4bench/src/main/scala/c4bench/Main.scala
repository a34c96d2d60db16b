package c4bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload on generated inputs and
  * writes every raw sample as JSON for `run.py` to summarize.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --tmp DIR --out FILE`
  *
  * A run is: session start, one untimed pass that also writes each output
  * for the correctness check, then timed passes until `--seconds` have
  * passed (at least one; at least two with `--trace 1`, where passes
  * alternate untraced and traced so the difference is the tracing cost).
  * The streaming workload warms up with three batches instead and checks
  * its outputs at the end.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, tmp: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("tmp"), m("out"))
  }

  /** Timed passes until `seconds` have passed; at least `minPasses`. */
  def passes(seconds: Double, minPasses: Int)(pass: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < minPasses || System.nanoTime() < deadline) { pass(p); p += 1 }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** The process's peak resident set (VmHWM), in MB; -1 off Linux. */
  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("c4bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, args.tmp)
    val tracer = if (args.trace) Some(new Tracer) else None
    val report = new Report
    report.env ++= Seq(
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).mkString(" "),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "seed" -> args.seed, "workload" -> args.workload,
      "jvm_start_to_session_s" ->
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    args.workload match {
      case "ingest_stream" => Ingest.run(spark, args, tracer, report)
      case w => QueryRun.run(spark, args, Workloads.ops(w, args.tmp), tracer, report)
    }
    report.layersOnce ++= Seq("jvm.heap_peak_mb" -> heapPeakMb(), "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(args.out), Json(report.toMap))
    spark.stop()
  }

  /** Marks the start of the timed passes: set-up ends here. */
  def startTimed(report: Report): Unit = {
    System.gc()
    resetHeapPeak()
    report.firstSampleMs = System.currentTimeMillis()
  }

  /** Layer numbers every workload shares, for one pass: phase time, jobs,
    * tasks, CPU and data moved, split at the return of the constructor. */
  def phaseLayers(t: Tracer, pass: Int, buildS: Double, execS: Double,
                  cores: Int): Seq[(String, Double)] = {
    val b = t.sum(_.startsWith(s"$pass/")) // all of the pass
    val bb = t.sum(l => l.startsWith(s"$pass/") && l.endsWith("/build"))
    val ee = t.sum(l => l.startsWith(s"$pass/") && l.endsWith("/exec"))
    def util(c: Tracer#Counts, s: Double) = if (s > 0) c.cpuNs / 1e9 / (s * cores) else 0.0
    Seq("build.s" -> buildS, "build.jobs" -> bb.jobs.toDouble,
      "build.tasks" -> bb.tasks.toDouble, "build.cpu_s" -> bb.cpuNs / 1e9,
      "build.core_util" -> util(bb, buildS),
      "exec.s" -> execS, "exec.jobs" -> ee.jobs.toDouble,
      "exec.tasks" -> ee.tasks.toDouble, "exec.cpu_s" -> ee.cpuNs / 1e9,
      "exec.core_util" -> util(ee, execS),
      "shuffle.read_mb" -> b.shuffleRead / 1048576.0,
      "shuffle.write_mb" -> b.shuffleWrite / 1048576.0,
      "spill.mb" -> b.spill / 1048576.0, "scan.rows" -> b.rows.toDouble)
  }
}

/** Everything one run measured, in the shape `run.py` reads. */
final class Report {
  val env = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var firstSampleMs = 0L
  /** Timed operations: pass, op, build_s, exec_s, sub-timings, error. */
  val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Timed passes: pass, traced, wall_s. */
  val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Output checks made in the untimed pass: op, ok, error. */
  val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Per traced pass, its per-layer numbers. */
  val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
  val layersOnce = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var oracleSql: Map[String, String] = Map.empty

  def toMap: Map[String, Any] = Map("env" -> env.toMap, "first_sample_ms" -> firstSampleMs,
    "ops" -> ops.toSeq, "passes" -> passes.toSeq, "checks" -> checks.toSeq,
    "layers" -> layers.toSeq, "layers_once" -> layersOnce.toMap,
    "oracle_sql" -> oracleSql)
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
