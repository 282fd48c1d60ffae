package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession}
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, measure, check, and write a
  * raw record that `run.py` turns into metrics.
  *
  * Usage: perfbench.Main --workload <lake-sql|lake-derived|pipeline>
  *   --seed <n> --seconds <s> --trace <0|1> --root <checkout> --dir <run dir>
  *   --data <lake tables dir> --out <record.json>
  */
object Main {

  /** One process, one query client: `local[4]` whatever the host width;
    * provenance records the host's width beside it. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, dir: String, data: String, out: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("root"), kv("dir"), kv.getOrElse("data", ""), kv("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val env = new Env(a)
    val record = a.workload match {
      case "lake-sql" => Lake.run(env, Lake.sqlOps)
      case "lake-derived" => Lake.run(env, Lake.derivedOps, replicate = true)
      case "pipeline" => Pipeline.run(env)
      case w => sys.error(s"unknown workload $w")
    }
    Json.write(a.out, record ++ env.record)
    env.spark.stop()
  }
}

/** Run-wide state shared by the workloads: the current session, the
  * tracer, the listener record and the JVM counters around the measured
  * phase. */
final class Env(val args: Main.Args) {
  val trace = new Trace(args.trace)
  @volatile var spark: SparkSession = _
  @volatile var recorder: Option[SparkRecorder] = None
  private var gc0 = 0L
  private var gcMs = 0L
  private var heapPeak = 0L
  private var measureStartUs = 0L
  private var measureEndUs = 0L

  /** Stop the current session (if any) and start a fresh one with the
    * engine's configuration, shuffle width = master width, and every
    * scratch path inside the run directory. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    val s = trace.span("session", "GraftSession.create") {
      GraftSession.builder(s"local[${Main.Cores}]", "perfbench")
        .config("spark.sql.shuffle.partitions", Main.Cores.toString)
        .config("spark.sql.warehouse.dir", s"${args.dir}/warehouse")
        .config("spark.local.dir", s"${args.dir}/spark-local")
        .getOrCreate()
    }
    s.sparkContext.setLogLevel("WARN")
    spark = s
    trace.bind(s)
    recorder = if (args.trace) Some(SparkRecorder.attach(s)) else None
    s
  }

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Time `body` as the measured phase, with JVM GC and heap counters
    * taken around it. */
  def measure[A](body: => A): A = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcTotalMs
    measureStartUs = Clock.us()
    try trace.span("bench", "measure")(body)
    finally {
      measureEndUs = Clock.us()
      gcMs = gcTotalMs - gc0
      heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    }
  }

  /** Peak resident set of this JVM so far (VmHWM), MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def record: Map[String, Any] = Map(
    "provenance" -> Map(
      "git_head" -> Bench.gitHead(args.root),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_version" -> spark.version,
      "seed" -> args.seed,
      "workload" -> args.workload,
      "seconds" -> args.seconds,
      "trace" -> args.trace),
    "measure" -> Map("start_us" -> measureStartUs, "end_us" -> measureEndUs),
    "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_bytes" -> heapPeak, "peak_rss_mb" -> peakRssMb),
    "spans" -> trace.spans,
    "spark" -> recorder.map(_.record).getOrElse(Map.empty))
}
