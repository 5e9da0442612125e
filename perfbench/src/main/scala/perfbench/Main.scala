package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries._
import graft.runner.{PipelineRunner, Registry, StepContext, StepPlugin, StepResult}
import graft.runner.plugins.DefaultRegistry
import graft.spec.{SysContext, Yaml}

/** One benchmark run: one workload in one fresh JVM.
  *
  * The engine is driven only through its public entry points
  * (`SparkEntry.queries`, `PipelineRunner.runFile`, `Yaml.loadPipeline`,
  * `StreamingQueries.drainSecondsTotal`). Every raw measurement goes to a
  * JSON file (`--out`); `perfbench/run.py` turns it into metrics and
  * checks the outputs against the golden file.
  *
  * Shape of a run: set up (session + warm-up) `--setups` times, keeping
  * the last session; a first pass over the workload, then `--repeats`
  * more (a pipelines pass is a cold run into a fresh workdir followed by
  * the idempotent re-run on it); with `--trace 1`, exactly one repeat and
  * then one more pass with the listeners muted, to price the tracing;
  * then the untimed output check.
  */
object Main {
  final case class Opts(mode: String, items: Seq[String], firstPassOnly: Set[String],
                        sfDir: String, examples: Path, work: Path,
                        seed: Long, repeats: Int, trace: Boolean,
                        setups: Int, cpus: Int, out: Path)

  /** One timed unit: a query, or one pipeline run in a phase. */
  final case class Item(name: String, seconds: Double, buildSeconds: Double,
                        error: Option[String], phase: String = "") {
    def json: Map[String, Any] = Map("name" -> name, "s" -> seconds,
      "build_s" -> buildSeconds, "error" -> error, "phase" -> phase)
  }

  /** One pass over the workload; `phases` splits its wall. */
  final case class Pass(wall: Double, items: Seq[Item], phases: Map[String, Double] = Map.empty) {
    def json: Map[String, Any] = Map("wall_s" -> wall, "items" -> items.map(_.json),
      "phases" -> phases)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${secondsSince(started)}%7.2f s $msg")

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(3).mkString(" | ").take(400)

  private def list(arg: Option[String]): Seq[String] =
    arg.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(
      mode = arg("mode"),
      items = list(kv.get("items")),
      firstPassOnly = list(kv.get("first-pass-only")).toSet,
      sfDir = arg("sf-dir"),
      examples = Paths.get(kv.getOrElse("examples", "examples")).toAbsolutePath,
      work = Paths.get(arg("work")).toAbsolutePath,
      seed = arg("seed").toLong,
      repeats = arg("repeats").toInt,
      trace = arg("trace") == "1",
      setups = kv.getOrElse("setups", "3").toInt,
      cpus = kv.getOrElse("cpus", "4").toInt,
      out = Paths.get(arg("out")))
    Files.createDirectories(o.work)

    val (spark, setupTimes) = setUp(o)
    val result = o.mode match {
      case "battery" => battery(spark, o)
      case "pipelines" => pipelines(spark, o)
      case m => sys.error(s"unknown mode $m")
    }
    // read before retainedHeapMb(), whose own full GCs must not count
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val jitS = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val heapMb = retainedHeapMb()
    log("heap measured")
    val doc = result ++ Map(
      "mode" -> o.mode, "seed" -> o.seed, "trace" -> o.trace,
      "setup_s" -> setupTimes, "heap_retained_mb" -> heapMb,
      "jvm" -> Map("gc_s" -> gcS, "jit_s" -> jitS))
    Files.write(o.out, Json(doc).getBytes("UTF-8"))
    spark.stop()
    log("stopped")
  }

  /** Create a session and warm it up, `setups` times; keep the last one.
    * The warm-up reads every table once (file listing, parquet footers)
    * and runs the flagship query (JIT, codegen, shuffle machinery). */
  private def setUp(o: Opts): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to o.setups).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession(o)
      log("session")
      graft.Tables.names.foreach(t =>
        graft.Tables.load(spark, o.sfDir, t).write.format("noop").mode("overwrite").save())
      CoreQueries.q1Agg(spark, o.sfDir).write.format("noop").mode("overwrite").save()
      log("set up")
      secondsSince(t0)
    }
    (spark, times)
  }

  /** The batteries use `graft.Bench`'s session settings, the pipelines
    * `graft.RunPipeline`'s: each workload runs the way users run it. */
  private def newSession(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.mode}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    if (o.mode == "battery") {
      b.config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      b.config("spark.scheduler.mode", "FAIR")
    }
    if (o.trace) TraceConfs.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (o.trace) spark.sparkContext.addSparkListener(new ExecTrace)
    spark
  }

  /** Used heap after full GCs. The pauses let Spark's ContextCleaner
    * drop the broadcast and shuffle state whose owners the first GC
    * collected, so the next GC can reclaim it too. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The measured region: a first pass, then `repeats` more. A traced
    * run makes exactly one repeat, so its layer totals always cover the
    * same two passes, and then adds one pass with the listeners muted,
    * to price the tracing. */
  private def measured(spark: SparkSession, o: Opts)(pass: Int => Pass): (Seq[Pass], Option[Pass], Map[String, Double]) = {
    val sc = spark.sparkContext
    if (o.trace) org.apache.spark.BusDrain(sc)
    Trace.reset()
    Trace.enabled = o.trace
    val from = System.currentTimeMillis()
    val drain0 = StreamingQueries.drainSecondsTotal
    val passes = (1 to 1 + (if (o.trace) 1 else o.repeats)).map(pass)
    val to = System.currentTimeMillis()
    val drainS = StreamingQueries.drainSecondsTotal - drain0
    if (!o.trace) (passes, None, Map("stream.drain_s" -> drainS))
    else {
      org.apache.spark.BusDrain(sc)
      Trace.enabled = false
      val layers = Trace.metrics(from, to, o.cpus) + ("stream.drain_s" -> drainS)
      (passes, Some(pass(passes.size + 1)), layers)
    }
  }

  // ---------------------------------------------------------------- batteries

  private lazy val groupOf: Map[String, String] =
    Seq(CoreQueries, RelationalQueries, AggregateQueries, TextQueries,
      CorpusQueries, VectorQueries, AdvancedQueries, EventQueries,
      StreamingQueries).flatMap { g =>
      val name = g.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries").toLowerCase
      g.queries.keys.map(_ -> name)
    }.toMap

  private def battery(spark: SparkSession, o: Opts): Map[String, Any] = {
    val all = graft.SparkEntry.queries
    o.items.filterNot(all.contains).foreach(n => sys.error(s"unknown query $n"))
    val order = new scala.util.Random(o.seed).shuffle(o.items)
    // the last pass's DataFrames, kept for the output check
    val kept = scala.collection.mutable.Map.empty[String, DataFrame]

    def runQuery(name: String): Item = {
      val sc = spark.sparkContext
      sc.setLocalProperty("spark.scheduler.pool", name)
      sc.setLocalProperty(Trace.PhaseProperty, "build")
      val t0 = System.nanoTime()
      try {
        val df = all(name)(spark, o.sfDir)
        val built = secondsSince(t0)
        sc.setLocalProperty(Trace.PhaseProperty, "run")
        df.write.format("noop").mode("overwrite").save()
        kept(name) = df
        Item(name, secondsSince(t0), built, None)
      } catch {
        case NonFatal(e) => Item(name, secondsSince(t0), 0.0, Some(message(e)))
      } finally sc.setLocalProperty(Trace.PhaseProperty, null)
    }

    // one client, closed loop: the next query starts when the last one
    // returns
    def pass(i: Int): Pass = {
      // first-pass-only members lead the first pass, so their cold cost
      // does not depend on the order of the rest
      val (once, rest) = order.partition(o.firstPassOnly)
      val t0 = System.nanoTime()
      val items = ((if (i == 1) once else Nil) ++ rest).map(runQuery)
      log(s"pass $i")
      Pass(secondsSince(t0), items)
    }

    val (passes, untraced, layers) = measured(spark, o)(pass)
    // untimed, so it runs on every core
    val checks = inParallel(o.cpus, order) { name =>
      kept.get(name).map(df =>
        try { val (n, h) = fingerprint(df); Map("rows" -> n, "hash" -> h) }
        catch { case NonFatal(e) => Map("error" -> message(e)) }
      ).getOrElse(Map("error" -> "no result"))
    }
    log("checked")
    Map("order" -> order, "groups" -> o.items.map(n => n -> groupOf.getOrElse(n, "other")).toMap,
      "passes" -> passes.map(_.json), "untraced_pass" -> untraced.map(_.json),
      "layers" -> layers, "checks" -> checks)
  }

  private def inParallel[T](threads: Int, names: Seq[String])(f: String => T): Map[String, T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try names.map(n => n -> pool.submit(() => f(n))).map { case (n, fut) => n -> fut.get() }.toMap
    finally pool.shutdown()
  }

  /** Row count and an order-insensitive hash of every row: the sum of a
    * 64-bit hash per row. Floating values are rounded to 6 decimals
    * first, so a last-bit difference in a computed double is not a
    * mismatch. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _ => c
    }
    val cols = d.schema.fields.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = d.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  // ---------------------------------------------------------------- pipelines

  private def pipelines(spark: SparkSession, o: Opts): Map[String, Any] = {
    val order = new scala.util.Random(o.seed).shuffle(o.items)
    val root = o.work.resolve("pipelines")
    deleteTree(root)
    val profile = graft.RunPipeline.loadProfile("dev", Seq(o.examples))
    // a fixed clock: `{sys.now.yymmdd}` must not roll between the phases
    val sysContext = SysContext(java.time.LocalDateTime.of(2024, 1, 1, 0, 0), "bench0")
    val overrides: Map[String, Any] = Map("sf_dir" -> o.sfDir)
    var workdir = root

    // Every plugin call goes through a wrapping registry. In a cold run
    // it records the outputs the call's resolved arguments declare, one
    // per foreach item, for the output check; in a traced run it also
    // times the call, keyed by the phase (cold run or re-run) it ran in.
    @volatile var phase = ""
    @volatile var current = ""
    final class Calls {
      val seconds = new java.util.concurrent.atomic.DoubleAdder
      val n = new java.util.concurrent.atomic.LongAdder
    }
    val pluginCalls = new java.util.concurrent.ConcurrentHashMap[(String, String), Calls]()
    // pipeline -> the outputs its steps declared, relative to the workdir
    val declared = new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
    def declare(args: Map[String, Any]): Unit = {
      def rel(p: Any) = workdir.relativize(Paths.get(p.toString)).toString
      val files = Seq("output_path", "output_file", "output_dir").flatMap(args.get).map(rel)
      val tables = for (db <- args.get("db_path"); t <- args.get("table")) yield s"${rel(db)}#$t"
      declared.computeIfAbsent(current, _ => java.util.concurrent.ConcurrentHashMap.newKeySet())
        .addAll((files ++ tables).asJava)
    }
    // Every DuckDB file a step names is held open from its first use to
    // the end of the run. The engine's DuckDB sink leaks JDBC statements,
    // which keep the file's shared database instance alive after the sink
    // closes its connection; when the JVM's finalizer thread collects
    // them, the instance checkpoints the file on that thread, and a sink
    // opening the file at that moment starts a second instance on it and
    // corrupts it. When that happens depends on garbage collection, not
    // on the code, so it would make the failure count vary from run to
    // run (README.md, "Output check").
    val held = new java.util.concurrent.ConcurrentHashMap[String, java.sql.Connection]()
    def holdOpen(args: Map[String, Any]): Unit =
      args.get("db_path").map(_.toString).filter(_.endsWith(".duckdb")).foreach { db =>
        held.computeIfAbsent(db, _ => graft.sources.DuckGate.withDuck {
          Files.createDirectories(Paths.get(db).toAbsolutePath.getParent)
          java.sql.DriverManager.getConnection(s"jdbc:duckdb:$db")
        })
      }
    val base = DefaultRegistry()
    val used = order.flatMap(f => Yaml.loadPipeline(o.examples.resolve(f)).steps.map(_.plugin)).distinct
    val registry = base.withPlugins(used.map(base.resolve).distinct.map { p =>
      new StepPlugin {
        def name: String = p.name
        def run(ctx: StepContext): StepResult = {
          if (phase == "cold") declare(ctx.args)
          holdOpen(ctx.args)
          val t0 = System.nanoTime()
          try p.run(ctx) finally if (Trace.enabled) {
            val c = pluginCalls.computeIfAbsent((phase, p.name), _ => new Calls)
            c.seconds.add(secondsSince(t0)); c.n.increment()
          }
        }
      }
    })
    def callsIn(ph: String): Map[String, Calls] = pluginCalls.asScala.collect {
      case ((`ph`, name), c) => name -> c
    }.toMap

    val rerunSkips = scala.collection.mutable.ArrayBuffer.empty[Boolean]

    def runAll(ph: String): (Double, Seq[Item]) = {
      phase = ph
      val runner = new PipelineRunner(registry, profile + ("workdir" -> workdir.toString),
        () => spark, assetRoots = Seq(o.examples), sysContext = Some(sysContext))
      val t0 = System.nanoTime()
      val items = order.map { f =>
        current = f
        val r0 = System.nanoTime()
        try {
          val res = runner.runFile(o.examples.resolve(f), overrides)
          if (ph == "rerun" && Trace.enabled) rerunSkips ++= res.results.map(_.skipped)
          Item(f, secondsSince(r0), 0.0, None, ph)
        } catch {
          case NonFatal(e) => Item(f, secondsSince(r0), 0.0, Some(message(e)), ph)
        }
      }
      (secondsSince(t0), items)
    }

    // one pass: a cold run into a fresh workdir, then a re-run on it
    def pass(i: Int): Pass = {
      workdir = root.resolve(s"pass-$i")
      Files.createDirectories(workdir)
      val (coldS, cold) = runAll("cold")
      val (rerunS, rerun) = runAll("rerun")
      log(s"pass $i")
      Pass(coldS + rerunS, cold ++ rerun, Map("cold" -> coldS, "rerun" -> rerunS))
    }

    val (passes, untraced, layers0) = measured(spark, o)(pass)
    val (files, bytes) = treeSize(workdir)
    // the spec layer: the traced passes' parse work (two runs of each
    // pipeline per pass), timed on its own
    val parseS = Seq.fill(4)(order).flatten.map { f =>
      val p0 = System.nanoTime(); Yaml.loadPipeline(o.examples.resolve(f)); secondsSince(p0)
    }.sum
    val layers = if (!o.trace) layers0 else layers0 ++
      callsIn("cold").map { case (k, c) => s"step.${k.replaceAll("[^A-Za-z0-9_]", "_")}_s" -> c.seconds.sum } ++ Map(
        "spec.parse_s" -> parseS,
        "runner.self_s" -> (passes.flatMap(_.items).filter(_.phase == "rerun").map(_.seconds).sum -
          callsIn("rerun").values.map(_.seconds.sum).sum),
        "runner.steps_run" -> rerunSkips.count(!_).toDouble,
        "runner.steps_skipped" -> rerunSkips.count(identity).toDouble,
        "runner.invocations" -> callsIn("rerun").values.map(_.n.sum).sum.toDouble,
        "sink.files" -> files.toDouble,
        "sink.bytes" -> bytes.toDouble)

    // the last pass's workdir holds every declared output; a pipeline
    // that declares none (profile_demo's echo) is checked by its runs
    val checks = declared.asScala.map { case (f, outs) =>
      f -> outs.asScala.toSeq.sorted.map(p => p -> outputRows(spark, workdir, p)).toMap
    }.toMap
    graft.sources.DuckGate.withDuck(held.values.asScala.foreach(_.close()))
    Map("order" -> order, "passes" -> passes.map(_.json),
      "untraced_pass" -> untraced.map(_.json), "layers" -> layers,
      "checks" -> checks)
  }

  /** Rows of a declared output, relative to `workdir`: a parquet, CSV or
    * JSON file or directory, or `<db>#<table>`, a table of a DuckDB
    * file, counted over JDBC under the engine's DuckDB gate. -1 when it
    * is missing, -2 when it exists in a format this check does not
    * count, `error: <message>` when it cannot be read. */
  private def outputRows(spark: SparkSession, workdir: Path, out: String): Any = {
    val (file, table) = out.split("#", 2) match {
      case Array(f, t) => (f, Some(t))
      case Array(f) => (f, None)
    }
    val p = workdir.resolve(file)
    val s = p.toString
    try {
      if (!Files.exists(p)) -1L
      else if (table.nonEmpty && s.endsWith(".duckdb")) graft.sources.DuckGate.withDuck {
        val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$s")
        try {
          val st = c.createStatement()
          try {
            val rs = st.executeQuery(s"SELECT COUNT(*) FROM ${table.get}")
            try { rs.next(); rs.getLong(1) } finally rs.close()
          } finally st.close()
        } finally c.close()
      }
      else if (s.endsWith(".parquet")) spark.read.parquet(s).count()
      else if (s.endsWith(".csv")) spark.read.option("header", "true").csv(s).count()
      else if (s.endsWith(".json") || s.endsWith(".jsonl")) spark.read.json(s).count()
      else -2L
    } catch {
      case NonFatal(e) => s"error: ${message(e)}"
    }
  }

  private def treeSize(root: Path): (Long, Long) = {
    val files = Files.walk(root)
    try {
      val regular = files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (regular.size.toLong, regular.map(Files.size).sum)
    } finally files.close()
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally paths.close()
  }
}
