package layerbench

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/**
 * The benchmark's main program: one JVM, `local[4]`, a closed loop
 * with a single client (each action starts when the previous one ended).
 *
 *   Main --workload pipeline|join_sql --seed N --seconds S --trace 0|1
 *
 * Every run sets up and times all three phases (pipeline, join, sql),
 * so that every run reports every metric; the workload decides which
 * phases are checked and the polygons and probe points of the join.
 * The last line of standard output is the result as one JSON object.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** Input sizes, the same in every workload except for the number of
    * PIP probe points (see [[Workload]]). */
  val Pages = 30000L
  val Join = JoinSizes(stars = 300, pipPoints = 16000, geomPerSide = 20000, knnPoints = 40000,
    knnTargets = 40000)
  val SqlRows = 4000

  /** A workload: the phases it is about, whose outputs are checked
    * against the oracles, the vertex counts of its polygons and the
    * number of PIP probe points. */
  final case class Workload(own: Set[String], pipVertices: Seq[Int], sqlMaxVertices: Int,
      pipPoints: Int)

  /** `join_sql` holds both the join and the sql phase: they share the
    * GeomEval decode path, so a cache change that helps one and costs
    * the other shows within one workload. Its polygons cross the
    * engine's 128-vertex prepared-polygon threshold; those of `pipeline`
    * stay under it, so a change to that path should not move it. A probe
    * of a small polygon costs a small fraction of one of a prepared
    * polygon, so `pipeline` probes 12 times as many points: otherwise its
    * PIP join is mostly Spark's per-query cost, and its rate that cost's
    * run-to-run noise. */
  val Workloads: Map[String, Workload] = Map(
    "pipeline" -> Workload(Set("pipeline"), Inputs.SmallVertices, 64, pipPoints = 192000),
    "join_sql" -> Workload(Set("join", "sql"), Inputs.CrossingVertices, 1024, pipPoints = Join.pipPoints))

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Workloads.keySet
    val w = m.getOrElse("workload", "")
    require(known(w), s"--workload must be one of ${known.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1")
  }

  def session(work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("layerbench")
      .config(SessionConf)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "graft.pipeline.FastLocalFileSystem")
      // Spark keeps 100 generated classes by default; the three phases
      // run about 120, so with the default every unit compiles its
      // generated code again and the JIT starts over on it
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.functions.register(spark)
    spark
  }

  /** Session settings, applied to every phase's session. */
  val SessionConf = Map("spark.sql.shuffle.partitions" -> "16", "spark.sql.adaptive.enabled" -> "true")

  /** A session of its own on the same SparkContext. */
  def phaseSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    SessionConf.foreach { case (k, v) => s.conf.set(k, v) }
    graft.sql.functions.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val fixtures = new File("src/test/resources/fixtures")
    require(fixtures.isDirectory, s"run from the root of a checkout: no $fixtures")
    val work = new File(".bench_build/work", s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    FileUtils.deleteQuietly(work)
    work.mkdirs()
    val spark = session(work)
    log("spark up")
    try {
      val result = run(spark, work, args)
      println(result)
    } finally {
      spark.stop()
      FileUtils.deleteQuietly(work)
    }
    // Spark is stopped and the work directory gone; skip the shutdown
    // hooks, which keep the JVM alive for seconds after a pipeline run
    log("done")
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  private val t00 = System.nanoTime()
  /** Progress on standard error: seconds since start and what is done. */
  def log(msg: String): Unit = System.err.println(f"layerbench ${(System.nanoTime() - t00) / 1e9}%7.1fs $msg")

  def run(spark: SparkSession, work: File, args: Args): String = {
    val tally = new Tally
    def ctx() = new Ctx(phaseSession(spark), args.seed, work, tally)
    val w = Workloads(args.workload)
    val large = w.own
    val phases = Seq(new PipelinePhase(ctx(), Pages),
      new JoinPhase(ctx(), Join.copy(pipPoints = w.pipPoints), w.pipVertices),
      new SqlPhase(ctx(), SqlRows, w.sqlMaxVertices))
    val primaries = phases.filter(p => large(p.name))

    // The phases' set-ups, warm-ups and checks are independent and
    // untimed (set-up is timed as a whole), so they run concurrently.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(phases.size)
    def each(f: Phase => Unit): Unit =
      phases.map(p => pool.submit(new Runnable { def run(): Unit = f(p) })).foreach(_.get())
    try {
      val t0 = System.nanoTime()
      each(_.setup())
      val setup = (System.nanoTime() - t0) / 1e9
      log(f"set-up $setup%.2fs")
      // warm-up pass: JIT and the plan guard (on each phase's first
      // unit); then the outputs of the
      // workload's own phases are checked (the inputs of `join_sql` hold
      // polygons of every vertex count that `pipeline` uses). The checks
      // start when every guarded unit has ended, so that no check's plan
      // is taken for a unit's.
      each { p =>
        p.ctx.guarding = true
        p.unit(verify = large(p.name))
        p.ctx.guarding = false
        for (_ <- 2 to p.warmUpUnits) p.unit(verify = false)
        p.clear()
        log(s"warm-up ${p.name}")
      }
      primaries.flatMap(_.checks).map(c => pool.submit(new Runnable { def run(): Unit = c() }))
        .foreach(_.get())
      measure(phases, primaries, setup, args, tally)
    } finally pool.shutdown()
  }

  private def measure(phases: Seq[Phase], primaries: Seq[Phase],
      setup: Double, args: Args, tally: Tally): String = {
    val spark = phases.head.ctx.spark

    /** Measure for `seconds`: whole rounds of one unit of each of `ps`,
      * in a fixed order, at least one round. A fixed order puts every
      * phase's units at the same places in every run, after the same
      * work, while the JIT is still compiling.
      * Returns each phase's wall-clock intervals. */
    def window(seconds: Double, ps: Seq[Phase]): Map[Phase, Seq[(Long, Long)]] = {
      val ran = scala.collection.mutable.Map.empty[Phase, Seq[(Long, Long)]].withDefaultValue(Nil)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      do ps.foreach { p =>
        val t0 = System.nanoTime()
        val ms0 = System.currentTimeMillis()
        p.unit(verify = false)
        ran(p) :+= ((ms0, System.currentTimeMillis()))
        log(f"unit ${p.name} ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } while (System.nanoTime() < end)
      ran.toMap
    }

    val metrics = Seq.newBuilder[M]
    if (!args.trace) {
      window(args.seconds, phases)
      metrics += M("setup_s", setup, "s")
      phases.foreach(metrics ++= _.endToEnd)
    } else {
      // half the time untraced, half traced: the gap in the rate of the
      // workload's own phases is the tracing overhead
      window(args.seconds / 2.0, primaries)
      val plain = primaries.map(_.primaryRate)
      phases.foreach(_.clear())
      val listener = new StageListener
      spark.sparkContext.addSparkListener(listener)
      Trace.enabled = true
      metrics ++= Micro.run(args.seed, Join.stars, Workloads(args.workload).pipVertices)
      val ran = window(args.seconds / 2.0, phases)
      listener.drain()
      Trace.enabled = false
      spark.sparkContext.removeSparkListener(listener)
      phases.foreach(p => metrics ++= p.wallClock ++ p.perLayer(listener))
      val lost = primaries.zip(plain).collect { case (p, r) if r > 0 => 1 - p.primaryRate / r }
      metrics += M("trace.overhead_frac", if (lost.isEmpty) 0.0 else lost.sum / lost.size, "ratio")
      val self = Trace.selfSecondsByLayer
      for (layer <- Layers) metrics += M(s"trace.self_s.$layer", self.getOrElse(layer, 0.0), "s")
      // where the traced window's wall time and executor CPU went, by phase
      val wall = phases.map(p => p -> ran(p).map { case (a, b) => (b - a).toDouble }.sum).toMap
      val cpu = phases.map(p => p -> listener.within(ran(p)).map(_.cpuNs.toDouble).sum).toMap
      for (p <- phases) {
        metrics += M(s"trace.wall_share.${p.name}", wall(p) / math.max(1.0, wall.values.sum), "ratio")
        metrics += M(s"trace.cpu_share.${p.name}", cpu(p) / math.max(1.0, cpu.values.sum), "ratio")
      }
      phases.foreach(metrics ++= _.floorFracs)
      TraceFile.write(new File(".bench_build/traces"), args, listener)
    }

    Json.result(tally.failed == 0, math.max(1L, tally.attempted), tally.failed, metrics.result())
  }

  /** The layers spans are recorded for; `bench` is the benchmark's own
    * queries (candidate counts). */
  val Layers = Seq("core", "kernels", "index", "sql", "operators", "pipeline", "bench")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[M]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"
}

/** Writes the spans and per-stage task metrics of a traced run. */
object TraceFile {
  def write(dir: File, args: Main.Args, listener: StageListener): Unit = {
    dir.mkdirs()
    val spans = Trace.all.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "dur_ns": ${s.endNs - s.startNs}}""")
    val stages = listener.allStages.map(s =>
      s"""{"stage": ${s.stageId}, "submitted_ms": ${s.submittedMs}, "tasks": ${s.taskMs.size}, """ +
        s""""cpu_ns": ${s.cpuNs}, "gc_ms": ${s.gcMs}, "shuffle_write_bytes": ${s.shuffleWriteBytes}, """ +
        s""""shuffle_read_bytes": ${s.shuffleReadBytes}, "spill_bytes": ${s.spillBytes}, """ +
        s""""max_task_ms": ${if (s.taskMs.isEmpty) 0 else s.taskMs.max}, "skew": ${Json.num(s.skew)}}""")
    val text = s"""{"workload": ${Json.str(args.workload)}, "seed": ${args.seed},\n"spans": [\n""" +
      spans.mkString(",\n") + "],\n\"stages\": [\n" + stages.mkString(",\n") + "]}\n"
    java.nio.file.Files.write(new File(dir, s"${args.workload}-${args.seed}.json").toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
