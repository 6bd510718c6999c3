package graft.perf

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command line of the harness JVM. `run.py` generates the inputs and
  * passes every path; nothing here reads outside them. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, inputs: String, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("inputs"),
      get("work"), get("out"))
  }
}

/** One timed operation. Failed operations (an exception or a failed output
  * check) count against the attempted ones. */
final case class Op(kind: String, seconds: Double, ok: Boolean,
    traced: Boolean, detail: String)

/** State of one benchmark run: the session, the tracer and what the run
  * records for `run.py` to summarise. */
final class Run(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val setupSamples = mutable.ArrayBuffer.empty[Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var loopS = 0.0

  def op(kind: String, seconds: Double, problems: Seq[String]): Unit =
    ops += Op(kind, seconds, problems.isEmpty, tracer.recording,
      problems.mkString("; "))

  /** A check made outside the timed region counts as one operation. */
  def check(name: String)(problems: => Seq[String]): Unit = {
    val p = try problems catch { case NonFatal(e) => Seq(s"$name: $e") }
    op(s"check:$name", 0.0, p)
  }

  def fail(kind: String, e: Throwable): Unit =
    ops += Op(kind, 0.0, ok = false, tracer.recording, e.toString)

  /** In a traced run every second operation is traced, so traced and
    * untraced operations interleave in the same window. The seed's parity
    * picks which half: over seeds, each position in the operation sequence
    * (the cold first one included) is traced as often as not, so position
    * effects do not bias `trace.overhead_ratio`. */
  def tracedPosition(i: Int): Boolean = Math.floorMod(i + args.seed, 2L) == 1L

  /** Run `body(i)` until `args.seconds` have passed and at least `minOps`
    * iterations ran, tracing the positions [[tracedPosition]] picks. */
  def timedLoop(minOps: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      tracer.op = i
      tracer.recorded(args.trace && tracedPosition(i))(body(i))
      i += 1
    }
    loopS = (System.nanoTime() - t0) / 1e9
  }

  /** Block-manager storage in use across executors, MB. */
  def storageMb(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
}

object Main {
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    // local[N] with N = the cores this JVM may use, never more
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = seconds(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warm-up, the same one graft.Bench runs before its passes
    val (_, warmupS) = seconds(
      spark.range(1L << 20).selectExpr("sum(id * 2) AS s").collect())

    val (workload, legOf): (Run => Unit, String => Option[String]) =
      a.workload match {
        case "train" => (Train.run, _ => None)
        case "serve" => (Serve.run, _ => None)
        case "ingest" => (Ingest.run, Ingest.legOf)
        case w => sys.error(s"unknown workload $w")
      }
    val run = new Run(spark, a, new Tracer(spark, a.workload, legOf))
    try workload(run)
    catch { case NonFatal(e) => run.fail("workload", e); e.printStackTrace() }
    val endStorage = run.storageMb()

    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val result = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "env" -> Map(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "gc" -> (0 until gcs.size).map(i => gcs.get(i).getName).mkString(","),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "setup_samples" -> run.setupSamples.toList,
      "loop_s" -> run.loopS,
      "ops" -> run.ops.toList.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
        "ok" -> o.ok, "traced" -> o.traced, "detail" -> o.detail)),
      "info" -> (run.info.toMap ++ Map("storage_mb_end" -> endStorage)),
      "spans" -> run.tracer.report(cores))
    Files.write(Paths.get(a.out),
      Serialization.write(result)(DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }
}
