package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcEnvelope, CdcPipeline, Enrich, EnrichConfig}
import graft.sources.{CdcDataSource, CdcSinkFiles}

final case class Ctx(spark: SparkSession, work: Path, seed: Long,
    seconds: Int, traced: Boolean)

/** What a run hands back: end-to-end metrics, per-layer metrics, the
  * operation counts, and gate results for the oracle check.
  */
final class Result {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  /** (gate, result parquet dir, oracle SQL, tables dir) */
  val gates = ArrayBuffer[(String, String, String, String)]()
  private val born = Probe.nowS
  def log(s: String): Unit =
    System.err.println(f"[perfbench] ${Probe.nowS - born}%7.2f s  $s")
}

/** Untraced and traced stretches of one run, and the figures each side
  * measured: the traced-minus-untraced difference is the tracing overhead.
  */
final class Sides(c: Ctx) {
  val trace = new Trace(c.spark)
  val untraced = ArrayBuffer[Double]()
  val traced = ArrayBuffer[Double]()
  /** Runs `body` with the listeners attached on every odd `i` of a
    * traced run.
    */
  def run[A](i: Int)(body: => A): A = {
    val on = c.traced && i % 2 == 1
    if (on) trace.attach()
    try body finally if (on) trace.detach()
  }
  def overheadPct: Double =
    (Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1) * 100
}

object Workloads {
  private def now: Double = Probe.nowS

  private def batchMs(q: StreamingQuery): Seq[(Long, Long, Long)] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      (p.batchId, start, p.durationMs.get("triggerExecution").toLong)
    }

  private def setLayerDefaults(r: Result, s: Sides, windowS: Double,
      store: (Long, Long), cold: (Long, Double), hot: (Long, Double), gcMs: Double): Unit = {
    r.layers ++= s.trace.engine()
    r.layers ++= s.trace.scheduler(windowS)
    r.layers("cdc.store_files") = store._1.toDouble
    r.layers("cdc.store_mb") = store._2 / 1048576.0
    r.layers("codegen.compiles_cold") = cold._1.toDouble
    r.layers("codegen.compile_ms_cold") = cold._2
    r.layers("codegen.compiles") = hot._1.toDouble
    r.layers("codegen.compile_ms") = hot._2
    r.layers("jvm.gc_ms") = gcMs
    r.layers("trace.overhead_pct") = s.overheadPct
  }

  private def delta[A](f: => (Long, Double))(body: => A): (A, (Long, Double)) = {
    val (n0, t0) = f
    val a = body
    val (n1, t1) = f
    (a, (n1 - n0, t1 - t0))
  }

  // ----------------------------------------------------------------- stream

  val Cap = 20

  val BacklogFiles = 120
  val BacklogRows = 1000
  val LivePeriodMs = 100L
  val LiveRows = 200
  /** Live feed before the measured window. */
  val LiveLeadMs = 2000L

  /** One running pipeline, as a connector meets it: a primed query, then
    * a backlog of `BacklogFiles` files landing at once (drained at most
    * `Cap` files per batch), then an open-loop live feed of one
    * `LiveRows`-line file every `LivePeriodMs` for `seconds` after a lead-in.
    * The backlog phase gives throughput; the live phase gives event latency,
    * from each record's creation stamp to the end of the batch that
    * committed it.
    */
  def enrichStream(c: Ctx, r: Result): Unit = {
    val backlog = 1 to BacklogFiles
    val liveFrom = BacklogFiles + 1
    val files = liveFrom + ((LiveLeadMs + c.seconds * 1000) / LivePeriodMs).toInt
    val firstMeasured = ((LiveLeadMs / LivePeriodMs) + 1) * LivePeriodMs
    // set-up, three times: render every input, start the query, and let
    // its first batch (the priming file) plan and compile; the last
    // query stays up for the measurement. Live file i is stamped
    // (i - BacklogFiles) * period; the priming file and the backlog carry
    // stamp 0.
    val setups = ArrayBuffer[Double]()
    var running: (Streams.Dirs, StreamingQuery) = null
    val (_, cold) = delta(Probe.codegen) {
      for (cycle <- 1 to 3) {
        val d = Streams.Dirs(c.work.resolve(s"stream/c$cycle"))
        val t0 = now
        Envelopes.renderFiles(d.in, c.seed, 0 until 1, BacklogRows, 0L)
        Envelopes.renderFiles(d.staged, c.seed, backlog, BacklogRows, 0L)
        Envelopes.renderFiles(d.staged, c.seed, liveFrom until files, LiveRows, LivePeriodMs,
          origin = BacklogFiles)
        val q = Streams.start(c.spark, d, Cap)
        q.processAllAvailable()
        setups += now - t0
        if (cycle < 3) { q.stop(); Streams.delete(d.root) } else running = (d, q)
      }
    }
    val (d, q) = running
    r.log("set up")
    val sides = new Sides(c)
    val hot0 = Probe.codegen
    val (cpu0, gc0) = (Probe.cpuS, Probe.gcMs)
    // backlog: every file renamed into place at once, then drained (traced
    // in a traced run)
    val b0 = now
    sides.run(1) {
      backlog.foreach(i => Files.move(d.staged.resolve(Envelopes.fileName(i)),
        d.in.resolve(Envelopes.fileName(i)), java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      q.processAllAvailable()
    }
    val backlogS = now - b0
    r.log(f"backlog drained in $backlogS%.2f s")
    // live: open loop, one file per period
    val t0Ms = System.currentTimeMillis()
    val feeder = new Envelopes.Feeder(d.staged, d.in, liveFrom, files, LivePeriodMs,
      t0Ms - BacklogFiles * LivePeriodMs)
    feeder.start()
    // a traced run alternates 3 s windows without and with the listeners
    val windows = ArrayBuffer[(Long, Long, Boolean)]()
    var w = 0
    while (feeder.isAlive) {
      val ws = System.currentTimeMillis()
      sides.run(w)(feeder.join(if (c.traced) 3000L else 0L))
      windows += ((ws, System.currentTimeMillis(), c.traced && w % 2 == 1))
      w += 1
    }
    q.processAllAvailable()
    val cpu = Probe.cpuS - cpu0
    val gc = (Probe.gcMs - gc0).toDouble
    val hot1 = Probe.codegen
    val batches = batchMs(q)
    q.stop()
    r.log("measured")
    val end = batches.map { case (id, s, ms) => id -> (s + ms) }.toMap
    val out = Streams.output(c.spark, d.out).cache()
    val groups = out
      .select(regexp_extract(col("file"), "^e(\\d+)-", 1).cast("long").as("epoch"),
        regexp_extract(col("value"), "ts_ms\"?[:=](\\d+)", 1).cast("long").as("ts"))
      .groupBy("epoch", "ts").count().collect()
    val lat = groups.toSeq.flatMap { row =>
      val stamp = row.getLong(1) - Envelopes.Base
      if (stamp < firstMeasured) Nil
      else Seq.fill(row.getLong(2).toInt)((end(row.getLong(0)) - (t0Ms + stamp)).toDouble)
    }
    r.attempted += BacklogRows.toLong * liveFrom + LiveRows.toLong * (files - liveFrom)
    r.failed += new Streams.Check(c.spark, d.in).misses(Seq(out))
    out.unpersist()
    r.metrics("setup_s") = Stats.median(setups.toSeq)
    r.metrics("throughput_rows_per_s") = BacklogFiles.toLong * BacklogRows / backlogS
    r.metrics("latency_p50_ms") = Stats.quantile(lat, 0.5)
    r.metrics("latency_p90_ms") = Stats.quantile(lat, 0.9)
    r.metrics("wall_s") = backlogS
    r.metrics("cpu_s") = cpu
    val late = feeder.latenessMs.drop(liveFrom)
    r.metrics("feeder.max_lateness_ms") = late.max.toDouble
    r.log(f"enrich_stream: ${batches.size} batches, ${lat.size} live records measured, " +
      f"feeder lateness max ${late.max} ms")
    if (c.traced) {
      // overhead: time of the live batches that started in traced vs
      // untraced windows
      def inWindow(on: Boolean) = batches.collect { case (_, s, ms)
        if windows.exists { case (a, b, t) => t == on && s >= a && s < b } => ms.toDouble }
      sides.untraced ++= inWindow(false)
      sides.traced ++= inWindow(true)
      setLayerDefaults(r, sides,
        backlogS + windows.filter(_._3).map(x => (x._2 - x._1) / 1000.0).sum,
        Streams.footprint(d.root), cold, (hot1._1 - hot0._1, hot1._2 - hot0._2), gc)
      // live batches only: the log grows while the feed runs
      r.layers("engine.batch_ms_growth") =
        Stats.growth(batches.filter(_._2 >= t0Ms).map(_._3.toDouble))
      layerProbe(c, r, Some(d))
    }
  }

  // ------------------------------------------------------------------ gates

  /** Two stateful streaming drives (a foreachBatch drive with versioned
    * view publishes, and MV routing onto a streaming-maintained view) and
    * three batch gates (latest-state fold, n-gram dedup, vector k-means)
    * from the program's gate registry.
    */
  val Gates = Seq("q_cdc_stream_ivm", "q_cdc_mv_stream_ivm",
    "q_cdc_latest_state", "q_dedup_ngram", "q_kmeans_cluster")
  val GateSf = 0.01

  final case class Pass(wallS: Double, cpuS: Double, gcMs: Double,
      gateS: Seq[(String, Double)], store: (Long, Long),
      results: Map[String, (StructType, Array[Row])])

  def gates(c: Ctx, r: Result): Unit = {
    val spark = c.spark
    val fns = Gates.map(n => n -> graft.SparkEntry.queries(n))
    // set-up, three times: the seeded tables written to a fresh path
    var tableRows = 0L
    val setups = (0 until 3).map { i =>
      val t0 = now
      tableRows = TableGen.write(spark, c.work.resolve(s"gates/data$i").toString,
        GateSf, c.seed)
      now - t0
    }
    val data = c.work.resolve("gates/data2").toString
    (0 until 2).foreach(i => Streams.delete(c.work.resolve(s"gates/data$i")))
    r.log("tables written in " + setups.map(x => f"$x%.2f").mkString(" ") + " s")
    warmUp(c, data)

    // each pass stages its fixtures under a fresh root, so no pass can
    // reuse what an earlier one staged
    def pass(p: Int): Pass = {
      val fixtures = c.work.resolve(s"gates/fixtures$p")
      Files.createDirectories(fixtures)
      System.setProperty("graft.fixture.root", fixtures.toString)
      val (cpu0, gc0) = (Probe.cpuS, Probe.gcMs)
      val gateS = ArrayBuffer[(String, Double)]()
      val results = mutable.Map[String, (StructType, Array[Row])]()
      for ((name, fn) <- fns) {
        val g0 = now
        try {
          val df = fn(spark, data)
          results(name) = (df.schema, df.collect())
        } catch { case e: Throwable =>
          r.failed += 1
          r.log(s"$name failed: $e")
        }
        gateS += name -> (now - g0)
        r.attempted += 1
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
      val store = Streams.footprint(fixtures)
      Streams.delete(fixtures)
      r.log(s"pass $p: " + gateS.map { case (n, t) => f"$n $t%.2f" }.mkString(", "))
      Pass(gateS.map(_._2).sum, Probe.cpuS - cpu0, (Probe.gcMs - gc0).toDouble,
        gateS.toSeq, store, results.toMap)
    }
    // the first pass warms the JVM and the compile caches up; the second
    // is measured
    val (coldPass, cold) = delta(Probe.codegen)(pass(0))
    val hot0 = Probe.codegen
    val measured = pass(1)
    val hot = (Probe.codegen._1 - hot0._1, Probe.codegen._2 - hot0._2)
    val ms = measured.gateS.map(_._2 * 1000)
    r.metrics("setup_s") = Stats.median(setups)
    r.metrics("throughput_rows_per_s") = tableRows / measured.wallS
    r.metrics("latency_p50_ms") = Stats.quantile(ms, 0.5)
    r.metrics("latency_p90_ms") = Stats.quantile(ms, 0.9)
    r.metrics("wall_s") = measured.wallS
    r.metrics("cpu_s") = measured.cpuS
    measured.gateS.foreach { case (n, t) => r.metrics(s"queries.${n}_s") = t }
    r.log(f"cold pass ${coldPass.wallS}%.2f s, measured pass ${measured.wallS}%.2f s")
    val oracle = graft.SparkEntry.oracleSql
    for ((name, (schema, rows)) <- measured.results) {
      val dir = c.work.resolve(s"results/$name.parquet").toString
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      r.gates += ((name, dir, oracle.getOrElse(name, ""), data))
    }
    if (c.traced) {
      // one more pass, traced, for the layer figures and the overhead
      // against the measured pass
      val sides = new Sides(c)
      val tp = sides.run(1)(pass(2))
      sides.untraced += measured.wallS
      sides.traced += tp.wallS
      setLayerDefaults(r, sides, tp.wallS, tp.store, cold, hot, tp.gcMs)
      layerProbe(c, r, None)
    }
  }

  /** JVM warm-up outside every measured number, as the program's bench
    * main does it: one batch query and one trivial streaming drive.
    */
  private def warmUp(c: Ctx, data: String): Unit = {
    val spark = c.spark
    spark.read.parquet(s"$data/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val w = c.work.resolve("warm")
    spark.range(4).write.mode("overwrite").parquet(s"$w/in")
    spark.readStream.schema("id LONG").parquet(s"$w/in")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.format("noop").mode("overwrite").save())
      .option("checkpointLocation", s"$w/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    Streams.delete(w)
  }

  // ------------------------------------------------------------ layer probe

  val ProbeFiles = 20
  val ProbeRows = 1000

  /** The traced run's layer timings: timed calls to the program's source,
    * parse, enrich and sink functions over a seeded probe backlog, the
    * listing calls on the run's stream directories (or the probe's when
    * the workload has none), and a one-core drain.
    */
  def layerProbe(c: Ctx, r: Result, streamDirs: Option[Streams.Dirs]): Unit = {
    val spark = c.spark
    val root = c.work.resolve("probe")
    val in = root.resolve("in")
    Envelopes.renderFiles(in, c.seed, 0 until ProbeFiles, ProbeRows, 0L)
    def timed(n: Int)(body: Int => Unit): Double =
      Stats.median((0 until n).map { i => val t = now; body(i); now - t })
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val scan = spark.read.format("graft-cdc").load(in.toString).select("value")
    r.layers("sources.scan_s") = timed(3)(_ => noop(scan))
    val values = scan.cache()
    values.count()
    r.layers("cdc.parse_s") = timed(3)(_ => noop(CdcEnvelope.parse(values)))
    r.layers("cdc.enrich_s") = timed(3)(_ =>
      noop(Enrich(values).select("value_out")))
    val cfg = EnrichConfig(processingTimeIso = Some(Streams.Mask))
    r.layers("sources.sink_write_s") = timed(3)(i =>
      CdcPipeline.routedValues(values, cfg).write.format("graft-cdc")
        .option("partitionColumn", "source_table").mode("append")
        .save(root.resolve(s"out$i").toString))
    values.unpersist(true)
    val (listIn, listOut) = streamDirs.map(d => (d.in, d.out))
      .getOrElse((in, root.resolve("out0")))
    r.layers("sources.list_in_ms") =
      timed(20)(_ => CdcDataSource.listFiles(listIn.toString)) * 1000
    r.layers("sources.list_out_ms") =
      timed(20)(_ => CdcSinkFiles.dataFiles(listOut.toString)) * 1000
    r.layers("sources.out_mb") = Streams.footprint(listOut)._2 / 1048576.0
    streamDirs.foreach(d => Streams.delete(d.root))
    // the single-thread baseline: the probe input drained by a fresh
    // pipeline at local[1]
    spark.stop()
    val one = Main.session(1, c.work)
    try {
      val q = Streams.start(one, Streams.Dirs(root), Cap)
      val t0 = now
      try q.processAllAvailable() finally q.stop()
      r.layers("engine.rows_per_s_1core") = ProbeFiles.toLong * ProbeRows / (now - t0)
    } finally one.stop()
  }
}
