package graftbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.{Files, Paths}

import graft.bench.Meter
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A workload: a repeatable set-up and a timed region. Raw measurements
  * go into the result map; the Python runner turns them into the reported
  * metrics and runs the output checks.
  */
trait Workload {
  /** One set-up repetition; the state of the last one is what gets timed. */
  def setup(rep: Int): Unit
  /** Untimed facts about the set-up (store sizes, input bytes). */
  def setupFacts(): Map[String, Any] = Map.empty
  /** Run the timed region for about `seconds`. */
  def timed(seconds: Double, traced: Boolean): Map[String, Any]
  /** Traced-only calls made after the traced window, outside its counters
    * and its self times.
    */
  def probe(): Unit = ()
}

/** Benchmark harness entry point.
  *
  * {{{
  * graftbench.Main run workload=<name> seed=<n> seconds=<s> trace=<0|1>
  *                     work=<dir> cpus=<n> [reps=<n>]
  *                     [nlat=<n> nlon=<n> days=<n>] [tables=<dir> queries=<q,...>]
  * }}}
  *
  * `run` writes `<work>/result.json`; when traced also `<work>/spans.jsonl`
  * (the traced window) and `<work>/probe_spans.jsonl` (the probes after it).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("run") =>
        // exit explicitly: a failed run must not leave Spark's threads alive
        val code = try { run(kv); 0 } catch {
          case e: Throwable => e.printStackTrace(); 1
        }
        sys.exit(code)
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(kv: Map[String, String]): Unit = {
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv.getOrElse("trace", "0") == "1"
    val work = kv("work")
    val cpus = kv("cpus").toInt
    val res = mutable.LinkedHashMap[String, Any]()
    new File(work).mkdirs()

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] session: $sessionS%.2f s")
    Trace.sc = spark.sparkContext
    val ctl = new BufferedReader(new InputStreamReader(System.in))
    val w: Workload = workload match {
      case "serve_api" => new ServeApi(spark, work, seed, ctl,
        ServeApi.Grid(kv("nlat").toInt, kv("nlon").toInt, kv("days").toInt))
      case "query_suite" =>
        new QuerySuite(spark, work, kv("tables"), kv("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val reps = kv.getOrElse("reps", "3").toInt
    val repS = (0 until reps).map { r =>
      val s = System.nanoTime(); w.setup(r)
      val took = (System.nanoTime() - s) / 1e9
      System.err.println(f"[graftbench] set-up $r: $took%.2f s")
      took
    }
    res("session_s") = sessionS
    res("setup_reps_s") = repS
    res ++= w.setupFacts()

    def listen(c: Counters): Unit = spark.sparkContext.addSparkListener(c)
    def unlisten(c: Counters): Unit = {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(c)
    }

    def window(trace: Boolean): Map[String, Any] = {
      val counters = if (trace) Some(new Counters) else None
      counters.foreach(listen)
      Trace.enabled = trace
      val gc0 = Meter.gcSeconds(); val st0 = Meter.stealIoSeconds()
      val cpu0 = Jvm.processCpuSeconds()
      val s = System.nanoTime()
      val out = w.timed(seconds, trace)
      val wall = (System.nanoTime() - s) / 1e9
      val cpu = Jvm.processCpuSeconds() - cpu0
      val gc = Meter.gcSeconds() - gc0; val steal = Meter.stealIoSeconds() - st0
      Trace.enabled = false
      counters.foreach(unlisten)
      out ++ Map("wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc, "steal_s" -> steal,
        "live_old_mb" -> Jvm.liveOldMb()) ++
        counters.map(c => Map("counters" -> c.snapshot())).getOrElse(Map.empty)
    }

    def mark(what: String): Unit =
      System.err.println(f"[graftbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    mark("set-up done")
    res("untraced") = window(trace = false)
    mark("untraced window done")
    if (traced) {
      def writeSpans(name: String): Unit = Files.write(Paths.get(s"$work/$name"),
        Trace.drain().map(Trace.toJsonLine).mkString("", "\n", "\n").getBytes("UTF-8"))
      res("traced") = window(trace = true)
      writeSpans("spans.jsonl")
      // a listener of its own: the probes' jobs become spans, not window counters
      val probeJobs = new Counters
      listen(probeJobs)
      Trace.enabled = true
      w.probe()
      Trace.enabled = false
      unlisten(probeJobs)
      writeSpans("probe_spans.jsonl")
      mark("probes done")
    }
    res("provenance") = Map(
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    Files.write(Paths.get(s"$work/result.json"), Json(res.toMap).getBytes("UTF-8"))
    spark.stop()
    mark("stopped")
  }
}
