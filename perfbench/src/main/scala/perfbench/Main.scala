package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.etl.EventsPipeline
import graft.ml.{SyntheticTaxi, Trainer}
import graft.serve.{HttpScoring, Scoring}
import graft.sources.Tables
import graft.util.Sessions

/** One benchmark run: set-up, then measured passes of one workload, with
  * the program driven only through its public entry points. Prints one
  * `PERFBENCH-RESULT {...}` line; run.py turns it into the benchmark's
  * result. Arguments are `--key value` pairs, written by run.py. */
object Main {
  val Cores = 4
  val ResultTag = "PERFBENCH-RESULT "
  val ReadyTag = "PERFBENCH-READY "

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Sessions.get("perfbench", s"local[$Cores]", Cores)
    Main.mark("session ready")
    val run = new Run(spark, opts)
    try {
      opts("workload") match {
        case "etl_batch" => run.etlBatch()
        case "gates" => run.gates()
        case "train_serve" => run.trainServe()
        case w => sys.error(s"unknown workload $w")
      }
      println(ResultTag + run.resultJson())
      Main.mark("result printed")
    } finally {
      spark.stop()
      Main.mark("session stopped")
    }
  }

  /** Progress on stderr, which run.py relays. */
  def mark(what: String): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s after JVM start: $what")
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Row count and an order-insensitive hash of all rows: the sum over rows
    * of xxhash64 of every column (maps go through to_json, which xxhash64
    * does not take). */
  def fingerprint(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = named.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

final class Run(spark: SparkSession, opts: Map[String, String]) {
  import Main._

  val workload: String = opts("workload")
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val traced: Boolean = opts("trace") == "1"
  val work: Path = Paths.get(opts("work"))
  val data: String = opts("data")
  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}", traced)
  val events = new SparkEvents
  if (traced) events.attach(spark)

  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val setups = mutable.ArrayBuffer.empty[Double]
  /** Measured pass windows, in epoch microseconds. */
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jit0, gc0, compiles0 = 0L
  private var peakHeap = 0.0

  /** Record the live heap; called where a pass holds the most data, outside
    * timed work. */
  def heapMark(): Unit = peakHeap = math.max(peakHeap, Jvm.liveHeapMb())

  /** Run `f` as one operation: a throw or a wrong output counts as failed. */
  def op(name: String)(f: => Option[String]): Unit = {
    attempted += 1
    val problem =
      try f
      catch {
        case e: Exception =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
    problem.foreach(p => failures += s"$name: $p")
  }

  def setup(f: => Unit): Unit = {
    for (_ <- 1 to 3) setups += time(tracer.span("setup")(f))._2
    e2e("setup_s") = median(setups.toSeq)
    Main.mark("setup done")
  }

  private val passWalls = mutable.ArrayBuffer.empty[Double]

  /** Run passes until `seconds` have gone by (at least one); each pass
    * times its work through [[measure]], once. */
  def passes(pass: () => Unit): Seq[Double] = {
    jit0 = Jvm.jitMs(); gc0 = Jvm.gcMs(); compiles0 = Jvm.codegenCompiles()
    Main.mark("passes start")
    val t0 = System.nanoTime()
    while (passWalls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) pass()
    Main.mark("passes done")
    passWalls.toSeq
  }

  /** The timed part of a pass; output checks run after it. */
  def measure[A](f: => A): A = {
    val start = Clock.us()
    val (r, s) = time(tracer.span("pass")(f))
    passWalls += s
    windows += ((start, Clock.us()))
    r
  }

  // ---- etl_batch --------------------------------------------------------

  def etlBatch(): Unit = {
    val csv = work.resolve("events_csv").toString
    val rows = replicatedEvents(opts("etl_rows").toLong).cache()
    val staged = rows.count()
    setup {
      Tables.exportCsv(rows, csv)
      // settle the write so the timed reads parse, not wait on writeback
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      spark.read.text(csv).count()
    }
    rows.unpersist()
    info("staged_rows") = staged.toString
    // one untimed pass first, so that passes time steady-state code
    etlPass(csv, staged, warmup = true)
    val walls = passes(() => etlPass(csv, staged, warmup = false))
    e2e("pass_s") = median(walls)
    e2e("op_p50_ms") = 1000 * median(walls)
    info("passes") = walls.size.toString
  }

  /** The events table replicated to about `rows` rows, in 8 partitions
    * (one CSV file each). The seed jitters each copy's timestamps (within
    * the hour) and values (within 5%), so every seed stages different bytes
    * of the same shape. */
  def replicatedEvents(rows: Long): DataFrame = {
    val base = Tables.events(spark, data)
    val factor = math.max(1L, rows / base.count())
    def u(salt: Int) =
      pmod(xxhash64(col("event_id"), lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1e6
    base
      .crossJoin(spark.range(factor).select(col("id").as("_copy")))
      .withColumn("event_id", col("event_id") * factor + col("_copy"))
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) +
        ((u(1) - 0.5) * 3.6e9).cast("long")))
      .withColumn("value", round(col("value") * (lit(0.95) + lit(0.1) * u(2)), 2))
      .drop("_copy")
      .repartition(Cores * 2)
  }

  def etlPass(csv: String, staged: Long, warmup: Boolean): Unit = op("etl_pass") {
    val curated = work.resolve("curated").toString
    val agg = work.resolve("agg").toString
    def pipeline() = {
      val raw = tracer.span("sources.csvInfer") {
        val df = Tables.csvInfer(spark, csv)
        df.head(5)
        df
      }
      val (clean, kept) = tracer.span("etl.clean") {
        val c = EventsPipeline.clean(raw).cache()
        (c, c.count())
      }
      tracer.span("etl.writeCurated")(EventsPipeline.writeCurated(clean, curated))
      tracer.span("etl.writeAggregates")(EventsPipeline.writeAggregates(clean, agg))
      (clean, kept)
    }
    val (clean, kept) = if (warmup) pipeline() else measure(pipeline())
    heapMark()
    try {
      info("keep_ratio") = (kept.toDouble / staged).toString
      val readBack = spark.read.parquet(curated).count()
      val aggRows = spark.read.parquet(agg).agg(sum("total_events")).head().getLong(0)
      val sampled = clean.sample(withReplacement = false, 0.05, seed = 42).count()
      if (kept == 0) Some("clean kept no rows")
      else if (readBack != kept) Some(s"curated read-back $readBack != cleaned $kept")
      else if (aggRows != sampled) Some(s"aggregate total_events $aggRows != sampled rows $sampled")
      else None
    } finally clean.unpersist()
  }

  // ---- gates ------------------------------------------------------------

  def gates(): Unit = {
    val names = opts("gates").split(",").toSeq
    val registry = SparkEntry.queries
    val tables = work.resolve("tables")
    setup { stageTables(tables) }
    val dir = tables.toString
    val got = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, String)]]
    val perGate = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def pass(): Unit = names.foreach { name =>
      op(name) {
        val (fp, s) = time(tracer.span(s"queries.$name")(fingerprint(registry(name)(spark, dir))))
        perGate.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        got.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += fp
        clearCaches()
        None
      }
    }
    // one untimed pass first: a cold pass spends about twice its wall in
    // JIT compilation and swung by a fifth between runs
    pass()
    perGate.clear()
    val walls = passes { () => measure(pass()); heapMark() }
    e2e("pass_s") = median(walls)
    e2e("op_p50_ms") = 1000 * median(walls)
    info("passes") = walls.size.toString
    info("fingerprints") = got.map { case (k, runs) =>
      s""""$k":""" + runs.map { case (n, h) => s"""[$n,"$h"]""" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loop = opts("loop_gates").split(",").toSet
    perGate.foreach { case (k, v) => if (loop(k)) layer(s"queries.${k}_s") = median(v.toSeq) }
    def sumOf(keep: String => Boolean) =
      perGate.collect { case (k, v) if keep(k) => median(v.toSeq) }.sum
    layer("queries.loop_s") = sumOf(loop)
    layer("queries.broad_s") = sumOf(k => !loop(k))
  }

  /** Copy the gate input tables into the run's directory and read each
    * one's schema. */
  def stageTables(to: Path): Unit = {
    if (Files.exists(to)) deleteTree(to)
    Files.createDirectories(to)
    Files.list(Paths.get(data)).iterator().asScala.toSeq.sortBy(_.toString).foreach { t =>
      Files.copy(t, to.resolve(t.getFileName))
      spark.read.parquet(to.resolve(t.getFileName).toString).schema
    }
  }

  /** Drop what a gate left cached, so each gate starts from a clean block
    * manager. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---- train_serve ------------------------------------------------------

  def trainServe(): Unit = {
    val rows = opts("train_rows").toLong
    var taxi: DataFrame = null
    setup {
      if (taxi != null) taxi.unpersist(blocking = true)
      taxi = SyntheticTaxi.frame(spark, rows).coalesce(Cores).cache()
      taxi.count()
    }
    // a short untimed fit first (3 trees, same code paths), so that the
    // reference fit times boosting, not the JIT compiling it
    Trainer.trainFareModel(taxi, "",
      Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0, maxIter = 3))
    val stages = mutable.LinkedHashMap.empty[String, Double]
    var model: org.apache.spark.ml.PipelineModel = null
    val walls = passes { () =>
      op("train") {
        val (m, metrics) = measure(tracer.span("ml.trainFareModel") {
          Trainer.trainFareModel(taxi, "",
            Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0),
            (stage, s) => stages(stage) = s)
        })
        model = m
        heapMark()
        info("rmse") = metrics.rmse.toString
        info("mae") = metrics.mae.toString
        info("rmse_bits") = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(metrics.rmse))
        info("mae_bits") = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(metrics.mae))
        None
      }
    }
    e2e("pass_s") = median(walls)
    layer("ml.fit_s") = stages.getOrElse("fit", 0.0)
    layer("ml.evaluate_s") = stages.getOrElse("evaluate", 0.0)
    if (model != null) serve(model)
  }

  def serve(model: org.apache.spark.ml.PipelineModel): Unit = {
    val requests = Files.readAllLines(Paths.get(opts("requests"))).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val f = line.split(",")
        Scoring.ScoringRequest(f(0).toDouble, f(1).toDouble, f(2).toInt, f(3).toInt, f(4).toInt)
      }
    val fast = Scoring.fastScorer(model)
    Files.write(work.resolve("expected_answers.txt"),
      requests.map(r => fast.predict(r).toString).asJava)
    val slowServer = HttpScoring.start(spark, model, 0)
    System.setProperty("graft.serve.fast", "true")
    val fastServer =
      try HttpScoring.start(spark, model, 0)
      finally System.clearProperty("graft.serve.fast")
    try {
      println(ReadyTag + s"""{"default_port":${slowServer.getAddress.getPort},""" +
        s""""fast_port":${fastServer.getAddress.getPort}}""")
      System.out.flush()
      scala.io.StdIn.readLine() // run.py drives the load, then writes a line
    } finally {
      slowServer.stop(0)
      fastServer.stop(0)
    }
    // in-process scoring on both paths, after the load so that the JIT is
    // as warm as it was for the servers: the transport-free baseline
    val slowUs = mutable.ArrayBuffer.empty[Double]
    requests.take(opts("score_calls").toInt).foreach { r =>
      op("score") {
        val (p, s) = time(tracer.span("serve.predict")(Scoring.predict(spark, model, r)))
        slowUs += s * 1e6
        val want = fast.predict(r)
        if (p == want) None else Some(s"Scoring.predict $p != FastScorer.predict $want for $r")
      }
    }
    val fastUs = mutable.ArrayBuffer.empty[Double]
    for (round <- 0 until 20; r <- requests) {
      val t0 = System.nanoTime()
      fast.predict(r)
      if (round >= 10) fastUs += (System.nanoTime() - t0) / 1e3
    }
    layer("serve.score_ms") = median(slowUs.toSeq) / 1000
    layer("serve.fast_score_us") = median(fastUs.toSeq)
  }

  // ---- results ----------------------------------------------------------

  private def deleteTree(p: Path): Unit =
    scala.util.Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q)))

  /** Per-layer counters over the measured windows, from the listener, the
    * codegen metrics, the JVM beans and the spans. */
  private def layerCounters(): Unit = {
    val nPass = math.max(1, windows.size)
    layer("jvm.jit_ms") = (Jvm.jitMs() - jit0).toDouble / nPass
    layer("jvm.gc_ms") = (Jvm.gcMs() - gc0).toDouble / nPass
    layer("jvm.code_cache_mb") = Jvm.codeCacheMb()
    layer("codegen.compiles") = (Jvm.codegenCompiles() - compiles0).toDouble / nPass
    events.drain()
    def insideUs(us: Long) = windows.exists { case (s, e) => s <= us && us <= e }
    def inside(ms: Long) = insideUs(ms * 1000)
    val stages = events.stages.asScala.toSeq.filter(s => inside(s.startMs))
    val wallUs = windows.map { case (s, e) => e - s }.sum
    val busyUs = windows.map { case (s, e) =>
      Intervals.union(stages.map(st => (math.max(st.startMs * 1000, s), math.min(st.endMs * 1000, e))))
    }.sum
    layer("spark.jobs") = events.jobStarts.asScala.count(j => inside(j.startMs)).toDouble / nPass
    layer("spark.stages") = stages.size.toDouble / nPass
    layer("spark.tasks") = stages.map(_.tasks).sum.toDouble / nPass
    layer("spark.shuffle_bytes") = stages.map(_.shuffleBytes).sum.toDouble / nPass
    layer("spark.spill_bytes") = stages.map(_.spillBytes).sum.toDouble / nPass
    layer("spark.executor_cpu_s") = stages.map(_.cpuNs).sum / 1e9 / nPass
    layer("spark.core_busy_ratio") =
      if (wallUs == 0) 0.0 else stages.map(_.runMs).sum * 1000.0 / (wallUs * Cores)
    layer("spark.no_stage_s") = (wallUs - busyUs) / 1e6 / nPass
    layer("queries.plan_s") =
      events.plans.asScala.filter(p => inside(p.startMs)).map(_.ms).sum / 1000.0 / nPass

    val all = tracer.withJobs(events)
    val self = tracer.selfUs(all)
    val measured = all.filter(s => insideUs(s.startUs))
    def spansOf(name: String) = measured.filter(_.name == name)
    def medianS(name: String) = median(spansOf(name).map(s => (s.endUs - s.startUs) / 1e6))
    layer("sources.read_infer_s") = medianS("sources.csvInfer")
    layer("etl.clean_s") = medianS("etl.clean")
    layer("etl.write_curated_s") = medianS("etl.writeCurated")
    layer("etl.write_agg_s") = medianS("etl.writeAggregates")
    layer("etl.keep_ratio") = info.get("keep_ratio").map(_.toDouble).getOrElse(0.0)
    for (g <- opts("loop_gates").split(",")) {
      val runs = spansOf(s"queries.$g")
      layer.getOrElseUpdate(s"queries.${g}_s", 0.0)
      layer(s"queries.$g.jobs") =
        if (runs.isEmpty) 0.0
        else median(runs.map(r => all.count(j => j.parent == r.id && j.name.startsWith("spark.job")).toDouble))
    }
    for (k <- Seq("queries.loop_s", "queries.broad_s")) layer.getOrElseUpdate(k, 0.0)
    val fits = spansOf("ml.trainFareModel")
    layer("ml.fit_jobs") =
      median(fits.map(f => all.count(j => j.parent == f.id && j.name.startsWith("spark.job")).toDouble))
    for (l <- Seq("sources", "etl", "queries", "ml", "serve"))
      layer(s"$l.self_s") = measured.filter(s => s.layer == l && !s.name.startsWith("spark.job"))
        .map(s => self(s.id) / 1e6).sum / nPass
    info("spans") = all.size.toString
    layer("trace.pass_s") = median(windows.map { case (s, e) => (e - s) / 1e6 }.toSeq)
    layer("trace.overhead_pct") =
      if (wallUs == 0) 0.0 else 100.0 * (tracer.costNs + events.costNs) / 1000.0 / wallUs
    tracer.write(Paths.get(opts("trace_out")), all)
  }

  def resultJson(): String = {
    e2e("peak_heap_mb") = peakHeap
    if (traced) layerCounters()
    def num(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    val infoJson = info.map { case (k, v) =>
      val value = if (v.startsWith("{")) v else graft.serve.Json.quote(v)
      s""""$k":$value"""
    }.mkString("{", ",", "}")
    val failJson = failures.map(graft.serve.Json.quote).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failures":$failJson,"end_to_end":${num(e2e)},""" +
      s""""per_layer":${num(layer)},"info":$infoJson}"""
  }
}
