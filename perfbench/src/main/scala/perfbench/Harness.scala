package perfbench

import java.io.{File, PrintWriter}

import graft.{GraftExtensions, Pin, SparkEntry, Tables}
import graft.functions.Hashing
import graft.io.Sinks
import graft.ops.{Convert, SyntheticBoxes}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Closed-loop query runner for one workload.
  *
  * `run.py` chooses the workload's inputs, query order and sink; this main
  * runs them and writes raw JSON-lines records that `run.py` turns into
  * metrics. Phases of a run:
  *
  *  1. set-up: session start, caching of the input tables when `--hot 1`, one
  *     untimed warm-up pass over every distinct query through the noop sink
  *     (with a parquet sink the check pass below already runs the loop's
  *     plans), and one untimed pass that writes every distinct query's
  *     output as parquet through `graft.io.Sinks` under `--check-dir` for
  *     the fingerprint check;
  *  2. the timed loop: one client cycles through `--queries` in order; the
  *     next query starts when the previous query's sink has returned. It
  *     finishes every pass over the list that starts before `--seconds`,
  *     so the queries of the list weigh alike, then runs on until
  *     `--min-samples` queries have run; `--max-seconds` stops it anywhere.
  *
  * With `--trace 1`, every other execution in the loop is traced: each
  * phase (registry lookup and construction, planning, sink, pin release)
  * is timed and tagged with its own job group for [[PhaseListener]], and
  * each table is resolved once per pass through the query list. Untraced
  * executions of the same run give the tracing overhead.
  */
object Harness {
  final case class Conf(
    data: String, queries: Seq[String], hot: Boolean, sink: String,
    cores: Int, seconds: Double, maxSeconds: Double, minSamples: Int,
    trace: Boolean, checkDir: String, loopDir: String, out: String)

  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The `Tables` accessor of each input table. */
  def table(name: String): (SparkSession, String) => DataFrame = name match {
    case "region" => Tables.region
    case "nation" => Tables.nation
    case "customer" => Tables.customer
    case "supplier" => Tables.supplier
    case "part" => Tables.part
    case "orders" => Tables.orders
    case "lineitem" => Tables.lineitem
    case "events" => Tables.events
    case "documents" => Tables.documents
    case "embeddings" => Tables.embeddings
  }

  /** Name of the operation that writes q26's full label dataset. */
  val LabelDataset = "q26_label_dataset"

  /** q26's label dataset before its final projection: `Convert.dataset`
    * over `SyntheticBoxes.gtBoxes(part)`, assembled as q26 assembles it.
    */
  def labelDataset(s: SparkSession, d: String): DataFrame = {
    val anns = SyntheticBoxes.gtBoxes(Tables.part(s, d))
      .groupBy(col("page"))
      .agg(transform(
        array_sort(collect_list(struct(col("line_no"),
          struct(array(col("x"), col("y"), col("w"), col("h")).as("bbox"),
            col("class_id").as("category_id"),
            lit("").as("category_name")).as("ann")))),
        e => e("ann")).as("annotations"))
      .select(concat(lit("page_"), col("page"), lit(".png")).as("file_name"),
        col("annotations"))
    val images = anns.select(col("file_name"),
      lit(1024).as("width"), lit(512).as("height"))
    val split = when(Hashing.knuthMod(
      regexp_extract(col("file_name"), "page_(\\d+)", 1).cast("long"),
      100) < 80, "train").otherwise("val")
    Convert.dataset(images, anns, split)
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Block-manager storage memory in use, in bytes. */
  def storageUsed(s: SparkSession): Long =
    s.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum

  /** Exchange nodes in the initial physical plan, subqueries included. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
    case _ =>
      (if (p.isInstanceOf[Exchange]) 1 else 0) +
        p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Data files (count, bytes) under a sink's output directory. */
  def outputFiles(dir: File): (Int, Long) =
    Option(dir.listFiles).getOrElse(Array.empty[File]).foldLeft((0, 0L)) {
      case ((n, b), f) if f.isDirectory =>
        val (n2, b2) = outputFiles(f); (n + n2, b + b2)
      case ((n, b), f) if f.getName.endsWith(".parquet") =>
        (n + 1, b + f.length)
      case (acc, _) => acc
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def firstLine(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Builds a query's DataFrame. Registry queries go through
    * `SparkEntry.queries(name)(spark, dir)`; the registry lookup is timed
    * on its own into `registryNs` when given.
    */
  def build(s: SparkSession, dir: String, name: String,
            registryNs: Option[Array[Long]] = None): DataFrame =
    if (name == LabelDataset) labelDataset(s, dir)
    else {
      val t0 = System.nanoTime()
      val registry = SparkEntry.queries
      registryNs.foreach(_(0) = System.nanoTime() - t0)
      registry(name)(s, dir)
    }

  /** Writes a query's result with the workload's sink. */
  def sink(df: DataFrame, name: String, kind: String, dir: String): Unit =
    if (kind == "noop") df.write.mode("overwrite").format("noop").save()
    else if (name == LabelDataset) Sinks.writeDataset(df, s"$dir/$name")
    else Sinks.writePartitionedParquet(df, s"$dir/$name", Nil)

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--list") {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
        SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
      return
    }
    val c = parse(args)
    val out = new PrintWriter(c.out, "UTF-8")
    def emit(kind: String, fields: (String, Any)*): Unit = {
      out.println(Json.obj(("kind" -> kind) +: fields: _*)); out.flush()
    }
    emit("env",
      "cores" -> c.cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)

    // ---- set-up ----
    val distinct = c.queries.distinct
    val t0 = System.nanoTime()
    val spark = session(c.cores)
    val sessionS = secondsSince(t0)
    if (c.hot) TableNames.foreach(t => table(t)(spark, c.data).cache().count())
    val cacheS = secondsSince(t0) - sessionS
    val cachedMb = storageUsed(spark) / 1e6
    if (c.sink == "noop") for (q <- distinct) // warm the loop's own plans
      try sink(build(spark, c.data, q), q, c.sink, c.loopDir)
      catch { case _: Throwable => } // failures are reported by the check
      finally Pin.release(spark.sparkContext)
    val warmS = secondsSince(t0) - sessionS - cacheS
    for (q <- distinct) {
      val tq = System.nanoTime()
      var sinkS = 0.0
      val error =
        try {
          val df = build(spark, c.data, q)
          val tSink = System.nanoTime()
          sink(df, q, "parquet", c.checkDir)
          sinkS = secondsSince(tSink)
          None
        } catch { case e: Throwable => Some(firstLine(e)) }
        finally Pin.release(spark.sparkContext)
      val (files, bytes) = outputFiles(new File(s"${c.checkDir}/$q"))
      emit("check", "query" -> q, "ok" -> error.isEmpty,
        "error" -> error.getOrElse(""), "wall_s" -> secondsSince(tq),
        "sink_s" -> sinkS, "output_files" -> files, "output_mb" -> bytes / 1e6)
    }
    emit("setup", "session_s" -> sessionS, "cache_s" -> cacheS,
      "warmup_s" -> warmS,
      "check_s" -> (secondsSince(t0) - sessionS - cacheS - warmS),
      "total_s" -> secondsSince(t0), "cached_mb" -> cachedMb)

    // ---- timed loop ----
    val listener = new PhaseListener
    val traced = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, Seq[(String, Any)])]
    val loop0 = System.nanoTime()
    var i = 0
    var peak = storageUsed(spark)
    var passStart = 0.0 // loop seconds at the start of the current pass
    def more = {
      val t = secondsSince(loop0)
      if (i % c.queries.size == 0) passStart = t
      t < c.maxSeconds && (passStart < c.seconds || i < c.minSamples)
    }
    while (more) {
      val q = c.queries(i % c.queries.size)
      val pass = i / c.queries.size
      if (c.trace && i % c.queries.size == 0) resolveTables(spark, c, pass, emit)
      // alternate within a pass and flip each pass, whatever the list length
      val trace = c.trace && (i % c.queries.size + pass) % 2 == 0
      val x = execute(spark, i, if (trace) Some(listener) else None,
        registryNs => build(spark, c.data, q, Some(registryNs)),
        df => sink(df, q, c.sink, c.loopDir))
      peak = math.max(peak, x.storedBytes)
      if (trace) {
        val (files, bytes) =
          if (c.sink == "noop") (0, 0L) else outputFiles(new File(s"${c.loopDir}/$q"))
        traced += ((i, q, x.fields ++ Seq("output_files" -> files,
          "output_mb" -> bytes / 1e6)))
      }
      emit("sample", "i" -> i, "pass" -> pass, "query" -> q,
        "traced" -> trace, "wall_s" -> x.wallS, "ok" -> x.error.isEmpty,
        "error" -> x.error.getOrElse(""), "storage_mb" -> x.storedBytes / 1e6)
      i += 1
    }
    emit("loop", "timed_s" -> secondsSince(loop0), "samples" -> i,
      "peak_storage_mb" -> peak / 1e6)

    if (c.trace) {
      for ((n, q, fields) <- traced)
        emit("trace", Seq("i" -> n, "query" -> q) ++
          listenerFields(listener, n) ++ fields: _*)
      emit("unattributed", "jobs" -> listener(PhaseListener.Unattributed).jobs)
    }
    out.close()
    spark.stop()
  }

  /** One execution of the loop: wall time from the registry call to the
    * sink's return, block-manager storage sampled after the sink, then
    * `Pin.release`. With a listener the execution is traced: each phase
    * runs under its own job group and is timed, the physical plan is forced
    * on its own, and the pins taken are read before they are released.
    */
  final case class Execution(wallS: Double, error: Option[String],
                             storedBytes: Long, fields: Seq[(String, Any)])

  def execute(s: SparkSession, i: Int, listener: Option[PhaseListener],
              build: Array[Long] => DataFrame,
              write: DataFrame => Unit): Execution = {
    val sc = s.sparkContext
    val trace = listener.isDefined
    val rdds0 = if (trace) sc.getPersistentRDDs.keySet else Set.empty[Int]
    listener.foreach(sc.addSparkListener)
    def phase(p: String): Long = {
      if (trace) sc.setJobGroup(PhaseListener.group(i, p), p)
      System.nanoTime()
    }
    val registryNs = Array(0L)
    var marks = Seq.empty[(String, Any)]
    val t0 = phase("build")
    val error = try {
      val df = build(registryNs)
      if (trace) {
        val tPlan = phase("plan")
        val plan = df.queryExecution.executedPlan
        val tExec = phase("exec")
        write(df)
        val tEnd = System.nanoTime()
        marks = Seq("registry_ms" -> registryNs(0) / 1e6,
          "build_s" -> (tPlan - t0) / 1e9, "plan_s" -> (tExec - tPlan) / 1e9,
          "exec_s" -> (tEnd - tExec) / 1e9, "exchanges" -> exchanges(plan))
      } else write(df)
      None
    } catch { case e: Throwable => Some(firstLine(e)) }
    val wall = secondsSince(t0)
    val stored = storageUsed(s)
    if (!trace) {
      Pin.release(sc)
      return Execution(wall, error, stored, Nil)
    }
    val pins = sc.getRDDStorageInfo.filter(r => !rdds0.contains(r.id))
    val tRelease = phase("release")
    Pin.release(sc)
    val releaseMs = secondsSince(tRelease) * 1e3
    sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    listener.foreach(sc.removeSparkListener)
    Execution(wall, error, stored, marks ++ Seq("pins" -> pins.length,
      "pin_storage_mb" -> pins.map(r => r.memSize + r.diskSize).sum / 1e6,
      "release_ms" -> releaseMs))
  }

  /** Listener totals of traced execution `i`: construction-time jobs and
    * the sink's jobs, stages and task metrics.
    */
  def listenerFields(listener: PhaseListener, i: Int): Seq[(String, Any)] = {
    def totals(p: String) = listener(PhaseListener.group(i, p))
    val b = totals("build")
    val x = totals("exec")
    Seq("build_jobs" -> b.jobs, "plan_jobs" -> totals("plan").jobs,
      "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
      "failed_tasks" -> x.failedTasks, "task_run_s" -> x.runMs / 1e3,
      "task_cpu_s" -> x.cpuNs / 1e9, "gc_s" -> x.gcMs / 1e3,
      "shuffle_write_mb" -> x.shuffleWriteBytes / 1e6,
      "shuffle_read_mb" -> x.shuffleReadBytes / 1e6,
      "spill_mb" -> x.spillBytes / 1e6, "input_mb" -> x.inputBytes / 1e6,
      "input_rows" -> x.inputRows)
  }

  /** Times `Tables.<table>` and `Tables.footerRowCount` once per table. */
  def resolveTables(s: SparkSession, c: Conf, pass: Int,
                    emit: (String, Seq[(String, Any)]) => Unit): Unit =
    for (t <- TableNames) {
      val t0 = System.nanoTime()
      table(t)(s, c.data)
      val resolveMs = secondsSince(t0) * 1e3
      val t1 = System.nanoTime()
      Tables.footerRowCount(s, c.data, t)
      emit("tables", Seq("pass" -> pass, "table" -> t,
        "resolve_ms" -> resolveMs, "footer_ms" -> secondsSince(t1) * 1e3))
    }

  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, "arguments are --key value pairs")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad flag $k"); k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(data = get("data"), queries = get("queries").split(",").toSeq,
      hot = get("hot") == "1", sink = get("sink"), cores = get("cores").toInt,
      seconds = get("seconds").toDouble, maxSeconds = get("max-seconds").toDouble,
      minSamples = get("min-samples").toInt,
      trace = get("trace") == "1", checkDir = get("check-dir"),
      loopDir = get("loop-dir"), out = get("out"))
  }
}

/** Minimal JSON writer for flat records of numbers, strings and booleans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => str(String.valueOf(other))
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
