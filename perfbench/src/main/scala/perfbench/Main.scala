package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of a round: a query or a sync. `layers` holds
  * the per-layer figures of a traced operation (empty when untraced). */
final case class Op(round: Int, traced: Boolean, kind: String, name: String,
    seconds: Double, error: Option[String], extra: Map[String, Any] = Map.empty,
    layers: Map[String, Double] = Map.empty)

/** A workload: set-up, a one-off warm-up, rounds of a fixed operation
  * sequence, and a last untimed step that leaves under the run
  * directory what the checker needs. */
trait Workload {
  /** Input loading and derived-state builds; returns per-root build seconds. */
  def setup(spark: SparkSession, dir: File): Map[String, Double]
  /** Engine warm-up on work no timed operation repeats. */
  def warmup(spark: SparkSession): Unit
  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Op]
  def finish(spark: SparkSession): Unit = ()
}

/** Benchmark JVM: `--workload --data --run --trace`. Runs set-up once,
  * cold (the JVM's first session, over an empty derived-state
  * directory), then the warm-up, then one round (untraced) or four
  * (traced), and writes `<run>/result.json` (plus `<run>/spans.jsonl`
  * when traced). */
object Main {

  def session(cores: Int, dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def errorOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = o("data")
    val runDir = new File(o("run")).getAbsoluteFile
    val traced = o("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val workload: Workload = o("workload") match {
      case "sync" => new SyncWorkload(data, runDir)
      case "relational" => QueryWorkload.relational(data, runDir)
      case "curation" => QueryWorkload.curation(data, runDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, cold: the JVM's first session over an empty derived-state
    // directory, so no timed operation finds a root another run built
    val setupDir = new File(runDir, "setup")
    val tmp = new File(setupDir, "tmp"); tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    val t0 = System.nanoTime()
    val spark = session(cores, setupDir)
    val t1 = System.nanoTime()
    val indexS = workload.setup(spark, setupDir)
    val setupS = (System.nanoTime() - t0) / 1e9
    val sessionS = (t1 - t0) / 1e9
    val tWarm = System.nanoTime()
    workload.warmup(spark)
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    tracer.foreach(_.resetCachePeak())
    // an untraced run measures one round, the cold one. A traced run
    // runs four and traces the even ones: round 0 gives the per-layer
    // figures of the cold round, traced round 2 against untraced
    // rounds 1 and 3 the overhead.
    val rounds = if (traced) 4 else 1
    val tStart = System.nanoTime()
    val ops = (0 until rounds).flatMap { r =>
      val t = tracer.filter(_ => r % 2 == 0)
      tracer.foreach(_.active = t.isDefined)
      workload.round(spark, r, t)
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    tracer.foreach(_.active = false)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val cachePeakMb = tracer.map(_.cachePeakBytes / 1048576.0).getOrElse(0.0)
    workload.finish(spark)

    tracer.foreach(_.writeSpans(new File(runDir, "spans.jsonl").getPath))

    val result = Json.obj(
      "jvm_start_s" -> jvmStartS,
      "cores" -> cores,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "index_s" -> indexS,
      "warmup_s" -> warmupS,
      "rounds" -> rounds,
      "timed_s" -> timedS,
      "heap_peak_mb" -> heapPeakMb,
      "cache_peak_mb" -> cachePeakMb,
      "ops" -> ops.map(op => Map(
        "round" -> op.round, "traced" -> op.traced, "kind" -> op.kind,
        "name" -> op.name, "seconds" -> op.seconds, "error" -> op.error,
        "extra" -> op.extra, "layers" -> op.layers)))
    java.nio.file.Files.write(new File(runDir, "result.json").toPath, result.getBytes("UTF-8"))
    spark.stop()
  }
}
