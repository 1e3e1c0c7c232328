package graftbench

import java.io.BufferedReader
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.bench.DataGen
import graft.ingest.{GridSink, LayoutPlanner}
import graft.model.SeriesSpec
import graft.pipeline.Jobs
import graft.serve.{Api, Server}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `serve_api`: the HTTP server over a seeded parquet grid store. The load
  * comes from the runner's open-loop client; this side announces the port
  * (`@@READY <port>` on stdout), then waits for `DONE` on stdin.
  */
final class ServeApi(spark: SparkSession, work: String, seed: Long, ctl: BufferedReader,
                     grid: ServeApi.Grid) extends Workload {
  private val spec = SeriesSpec("ts", Seq("lat", "lon"), "temperature")
  private var store = ""
  private var stored: DataFrame = _
  private var running: Server.Running = _
  private var convertS = 0.0

  def setup(rep: Int): Unit = {
    store = s"$work/serve/store-$rep"
    val s = System.nanoTime()
    Trace.span("ingest", "convert") {
      val df = DataGen.sampleGrid(spark, days = grid.days, latPoints = grid.nlat,
        lonPoints = grid.nlon, seed = seed)
      val layout = Trace.span("ingest", "LayoutPlanner.plan")(
        LayoutPlanner.plan(df.schema, LayoutPlanner.Timeseries, spec.keyCols, spec.tsCol))
      Trace.span("ingest", "GridSink.writeGrid")(GridSink.writeGrid(df, store, layout))
    }
    convertS = (System.nanoTime() - s) / 1e9
    stored = GridSink.openStore(spark, store)
    start()
    warmUp()
    stop()
  }

  // detached: the server's threads would otherwise inherit the span's Spark
  // job group; their jobs hang under the serve window instead
  private def start(): Unit = Trace.span("serve", "Server.start") {
    running = Trace.detached(Server.start(spark, Map("grid" -> (stored, spec))))
  }

  private def stop(): Unit = Trace.span("serve", "Server.stop") { running.stop(); running = null }

  /** Three requests per route, with cache keys the timed schedule never
    * uses (they carry a date range).
    */
  private def warmUp(): Unit = {
    val http = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${running.port}/api/v1"
    val paths = Seq(0, 11, 22).flatMap { i =>
      val (lat, lon) = (grid.lat(i % grid.nlat), grid.lon(i % grid.nlon))
      Seq(s"/data/datasets/grid/point?lat=$lat&lon=$lon&start_date=2020-01-01&end_date=2020-06-30",
        s"/data/datasets/grid/stats?min_lon=$lon&min_lat=$lat&max_lon=${lon + 20}&max_lat=${lat + 10}" +
          "&start_date=2020-01-01&end_date=2020-06-30",
        s"/data/datasets/grid/region?min_lon=$lon&min_lat=$lat&max_lon=${lon + 6}&max_lat=${lat + 6}" +
          "&start_date=2020-01-01",
        s"/metrics/temporal/grid?metric=monthly&lat=$lat&lon=$lon&ref_start=2020-01-01&ref_end=2020-03-31")
    }
    paths.foreach { p =>
      val r = http.send(HttpRequest.newBuilder(URI.create(base + p)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      require(r.statusCode() == 200, s"warm-up $p: ${r.statusCode()} ${r.body()}")
    }
  }

  override def setupFacts(): Map[String, Any] = {
    val info = GridSink.storeInfo(spark, store)
    Map("store_dir" -> store, "store_rows" -> info.nRows, "store_bytes" -> info.totalBytes,
      "store_files" -> info.nFiles, "convert_s" -> convertS,
      "grid" -> Map("nlat" -> grid.nlat, "nlon" -> grid.nlon, "days" -> grid.days))
  }

  def timed(seconds: Double, traced: Boolean): Map[String, Any] = {
    start()
    val before = running.cacheStats()
    println(s"@@READY ${running.port}")
    System.out.flush()
    Trace.span("serve", "window") {
      Trace.defaultParent = Trace.current
      val line = ctl.readLine()
      require(line == "DONE", s"expected DONE from the client, got $line")
      Trace.defaultParent = 0L
    }
    val after = running.cacheStats()
    stop()
    println("@@WINDOW_DONE")
    System.out.flush()
    Map("cache_hits" -> (after.hits - before.hits), "cache_misses" -> (after.misses - before.misses),
      "cache_errors" -> (after.errors - before.errors))
  }

  override def probe(): Unit = {
    planProbe()
    metricsProbe()
  }

  /** Plan vs execution split of the miss path: the server plans inside its
    * own threads, so the traced run replays a fixed sample of point-series
    * plans on this thread.
    */
  private def planProbe(): Unit = {
    val rng = new scala.util.Random(seed)
    Trace.span("bench", "plan-probe") {
      (0 until 16).foreach { _ =>
        val df = Trace.span("serve", "Api.pointSeries")(Api.pointSeries(stored, spec,
          grid.lat(rng.nextInt(grid.nlat)), grid.lon(rng.nextInt(grid.nlon))))
        Trace.span("plans", "plan")(df.queryExecution.executedPlan)
        Trace.span("plans", "exec")(df.collect())
      }
    }
  }

  /** The batch metric jobs over the served store, each persisted as parquet
    * the way a background job writes its result.
    */
  private def metricsProbe(): Unit = Trace.span("bench", "metrics-probe") {
    ServeApi.Metrics.foreach { m =>
      Trace.span("metrics", m, req = m) {
        val df = Trace.span("pipeline", "Jobs.computeMetric", req = m)(
          Jobs.computeMetric(stored, spec, m))
        df.write.mode("overwrite").parquet(s"$work/serve/metrics/$m")
      }
    }
  }
}

object ServeApi {
  val Metrics: Seq[String] = Seq("monthly", "seasonal", "climatology", "percentiles", "anomaly",
    "trend", "trend_significance")

  final case class Grid(nlat: Int, nlon: Int, days: Int) {
    // the generator's coordinates (DataGen.sampleGrid), bit for bit
    def lat(i: Int): Double = i * (180.0 / (nlat - 1)) - 90.0
    def lon(j: Int): Double = j * (360.0 / nlon) - 180.0
  }
}
