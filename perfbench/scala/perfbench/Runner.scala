package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.ext.Text
import graft.grid.{Grid, TableDetect}
import graft.io.XlsxReader
import graft.pipeline.Ingest
import graft.queries.Registry
import graft.streaming.{CurateStream, FunnelStream}

/** One benchmark session: builds the Spark session, does the workload's
  * set-up, runs one timed pass and writes `result.json` into the output
  * directory. Inputs come only from the files `run.py` generated;
  * `run.py` checks the outputs.
  *
  * Usage: Runner --workload W --in DIR --out DIR --trace 0|1 --cores C
  */
object Runner {

  /** Timings of the timed pass; `outputs` reads its results back and
    * runs after the timed part (and after the trace is read).
    */
  final case class Pass(items: Seq[Double], extra: Map[String, Double],
      outputs: () => Map[String, Any])

  /** Directories whose size `run.py` reports: the sink's output and the
    * stream's state.
    */
  final case class Dirs(sink: Option[String] = None, state: Option[String] = None)

  trait Workload {
    /** Untimed work a user pays once per process. */
    def setUp(): Unit
    def pass(): Pass
    /** Direct timings of driver-side kernels that launch no Spark job. */
    def kernels(): Map[String, Double] = Map.empty
    def dirs: Dirs = Dirs()
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (in, out) = (opt("in"), opt("out"))
    val cores = opt("cores").toInt
    val spark = session(cores, out)
    try {
      val w: Workload = opt("workload") match {
        case "ingest" => new IngestW(spark, in, out)
        case "curate_batch" => new BatchW(spark, in)
        case "curate_stream" => new StreamW(spark, in, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setUp()
      val trace = if (opt("trace") == "1") {
        BenchBus.drain(spark.sparkContext)
        val t = new Trace
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
      val firstItem = epochSeconds()
      val cpu0 = processCpuSeconds()
      val (pass, runS) = timed(w.pass())
      val cpuS = processCpuSeconds() - cpu0
      val layers = trace.map { t =>
        BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        t.summary(runS, cores) ++ pass.extra ++ w.kernels()
      }
      val result = Map(
        "first_item_epoch_s" -> firstItem,
        "items" -> pass.items,
        "run_s" -> runS,
        "cpu_s" -> cpuS,
        "mem_peak_mb" -> peakRssMb(),
        "outputs" -> pass.outputs(),
        "layers" -> layers.orNull,
        "sink_dir" -> w.dirs.sink.orNull,
        "state_dir" -> w.dirs.state.orNull,
        "oracle_sql" -> oracleSql(opt("workload")).orNull)
      Files.write(Paths.get(out, "result.json"),
        new ObjectMapper().registerModule(DefaultScalaModule)
          .writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private def oracleSql(workload: String): Option[String] = workload match {
    case "curate_batch" => Registry.byName("x_pipeline_master").oracle
    case "curate_stream" => Registry.byName("x_curate_stream_master").oracle
    case _ => None
  }

  /** The engine's session settings (those of `graft.Bench`), with every
    * scratch directory inside the output directory.
    */
  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  private def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `Ingest.processObject`, one object at a time, each into a fresh
    * dataset directory. A worker ingests many objects per process, so
    * set-up includes a warm-up on a few other objects.
    */
  final class IngestW(spark: SparkSession, in: String, out: String) extends Workload {
    private val objects = lines(s"$in/objects.txt").map(f => s"$in/objects/$f")

    private def one(path: String, ds: String, id: String): Map[String, Any] = {
      val name = new File(path).getName
      try {
        val r = Ingest.processObject(spark, path, ds, id)
        Map("object" -> name, "dataset" -> ds, "errors" -> r.errors,
          "loaded" -> r.loaded.map(t => Map("name" -> t.name, "rows" -> t.rows)))
      } catch {
        case e: Exception => Map("object" -> name, "dataset" -> ds,
          "failed" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    def setUp(): Unit =
      lines(s"$in/warmup.txt").zipWithIndex.foreach { case (f, i) =>
        one(s"$in/objects/$f", s"$out/warmup/w$i", s"w$i")
      }

    def pass(): Pass = {
      val results = objects.zipWithIndex.map { case (path, i) =>
        timed(one(path, s"$out/ds/o$i", s"o$i"))
      }
      Pass(results.map(_._2), Map.empty, () => Map("items" -> results.map(_._1)))
    }

    override def dirs: Dirs = Dirs(sink = Some(s"$out/ds"))

    override def kernels(): Map[String, Double] = {
      val (books, readS) = timed(objects.filter(_.endsWith(".xlsx"))
        .flatMap(p => scala.util.Try(XlsxReader.readWorkbook(spark, p)).toOption))
      val grids = books.flatMap(_.values) ++
        objects.filter(_.endsWith(".csv")).map(Grid.readCsv(spark, _))
      val cells = grids.map(_.collectCells())
      val (_, detectS) = timed(cells.foreach(TableDetect.findTables(_)))
      Map("io.xlsx_read_s" -> readS, "grid.detect_s" -> detectS)
    }
  }

  /** `x_pipeline_master` through `Registry.byName(..).run`, then a noop
    * sink. A batch curation job runs once per process, so there is no
    * warm-up: the pass pays what a fresh job pays. The 12-row report is
    * read back after the timed part.
    */
  final class BatchW(spark: SparkSession, in: String) extends Workload {
    def setUp(): Unit = ()

    def pass(): Pass = {
      val (df, buildS) = timed(Registry.byName("x_pipeline_master").run(spark, s"$in/corpus"))
      // the sink executes the query's plan: its jobs belong to `queries`
      spark.sparkContext.setLocalProperty("perfbench.module", "queries")
      val (_, execS) = timed(df.write.format("noop").mode("overwrite").save())
      spark.sparkContext.setLocalProperty("perfbench.module", null)
      Pass(Seq(buildS + execS), Map("queries.build_s" -> buildS, "queries.exec_s" -> execS),
        () => Map("report" -> df.collect().toSeq.map(r =>
          Map("stage_idx" -> r.getInt(0), "stage" -> r.getString(1),
            "n_docs" -> r.getLong(2), "n_tokens" -> r.getLong(3)))))
    }
  }

  /** `CurateStream.curateStream` over the arrival files, one file per
    * micro-batch (`maxFilesPerTrigger` 1, `Trigger.AvailableNow`), into
    * fresh state. Set-up trains the reference LM and derives the
    * fluency cutoff, which a user pays once per stream start. An item is
    * a micro-batch, timed by its `triggerExecution` duration. The last
    * cumulative report row is read back after the timed part.
    */
  final class StreamW(spark: SparkSession, in: String, out: String) extends Workload {
    private val docs = spark.read.parquet(s"$in/corpus/documents.parquet")
    private var lm: Text.BigramLm = _
    private var cut: (Double, Long) = _

    def setUp(): Unit = {
      lm = Text.bigramLmTrain(docs, "text")
      cut = FunnelStream.fluencyCutoff(docs, "text", "doc_id", model = Some(lm))
    }

    override def dirs: Dirs = Dirs(sink = Some(s"$out/stream"), state = Some(s"$out/state"))

    def pass(): Pass = {
      val arrivals = spark.readStream
        .schema(spark.read.parquet(s"$in/arrivals").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$in/arrivals")
      // Spark pins the query's creation call site on its thread, so every
      // job would read as launched by `curateStream`. The start event is
      // delivered on that thread before the first batch: clear the pin
      // there, and each job's call site is the code that launched it, as
      // in a batch job.
      val unpin = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          spark.sparkContext.clearCallSite()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(unpin)
      // the stream's own jobs (source reads, sink commits) belong to
      // `streaming`; the query thread inherits this property
      spark.sparkContext.setLocalProperty("perfbench.module", "streaming")
      val q = CurateStream.curateStream(arrivals, s"$out/state", s"$out/stream",
        s"$out/checkpoint", docs, cut._1, cut._2, docs.filter(col("doc_id") < 20),
        "text", "tinj", "doc_id", model = Some(lm))
      spark.sparkContext.setLocalProperty("perfbench.module", null)
      q.awaitTermination()
      spark.streams.removeListener(unpin)
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      Pass(batches.map(_.durationMs.get("triggerExecution").toDouble / 1000.0), Map.empty,
        () => {
          val last = spark.read.parquet(s"$out/stream/report")
            .orderBy(col("batch_id").desc).head()
          Map("batches" -> batches.size, "report" -> last.schema.fieldNames
            .filter(_.startsWith("c_")).map(c => c -> last.getAs[Long](c)).toMap)
        })
    }
  }
}
