package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark entry point. One process, one SparkSession at local[nproc]
  * (shuffle partitions = nproc, AQE on, UTC), one closed-loop client.
  *
  * {{{
  * Main --workload construct|sample|graph|query --seed N --seconds S
  *      --trace 0|1 [--smoke 0|1] --work DIR --out DIR
  * }}}
  *
  * The last stdout line is the result object: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics. The line
  * before it is an `info` object (seed, sample counts, tail percentile,
  * failures). Spark logs go to stderr.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, work: String, out: String)

  /** Input sizes. `full` keeps a run of `sample` or `query` under a minute
    * at local[4]; `smoke` is the fast self-test size. */
  final case class Scale(docs: Long, files: Int, sf: Double, sampleSizes: Seq[Int],
                         sourceRate: Long)
  val full: Scale = Scale(docs = 2000, files = 4, sf = 0.002, sampleSizes = Seq(20, 40),
    sourceRate = 97)
  val smoke: Scale = Scale(docs = 500, files = 2, sf = 0.001, sampleSizes = Seq(10, 20),
    sourceRate = 31)

  val workloads = Seq("construct", "sample", "graph", "query")
  /** set-up passes per run; set-up time is their median */
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (one of ${workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("smoke").contains("1"), need("work"), need("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One finished operation of the loop; `cacheMb` is the peak storage
    * retained at the block boundaries so far. */
  final case class Rec(i: Int, wallS: Double, triples: Long, triplesS: Double,
                       failures: Seq[String], cacheMb: Double)

  /** Block-manager storage in use, summed over executors. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  /** Storage still in use once the blocks nothing references are gone: a
    * forced GC lets Spark's cleaner drop them; read until two reads agree. */
  def retainedMb(spark: SparkSession): Double = {
    var last = -1.0
    var now = storageMb(spark)
    var tries = 0
    while (now != last && tries < 10) {
      System.gc()
      Thread.sleep(100)
      last = now
      now = storageMb(spark)
      tries += 1
    }
    now
  }

  /** Closed loop: start operation `from`, `from + 1`, … until `maxOps`
    * ran or, after the first `minBlocks` blocks of `block` operations, until
    * a block ends after the deadline. An operation that throws
    * counts as failed, with its message. At each block boundary the storage
    * retained across operations is read into the block's records. */
  def loop(spark: SparkSession, wl: Workload, t: Tracer, seconds: Double, from: Int,
           maxOps: Int, block: Int, minBlocks: Int = 1): Seq[Rec] = {
    val recs = Seq.newBuilder[Rec]
    var retained = retainedMb(spark)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = from
    // the first blocks always run; later blocks start while time is left
    while (i - from < maxOps &&
      (i - from < block * minBlocks || (i - from) % block != 0 ||
        System.nanoTime() < deadline)) {
      val rec =
        try {
          val o = wl.op(i, t)
          val failures = o.check()
          Rec(i, o.wallS, o.triples, o.triplesS, failures, 0.0)
        } catch {
          case e: Exception =>
            Rec(i, Double.NaN, 0L, 0.0, Seq(s"${wl.name} op $i threw: $e"), 0.0)
        }
      if ((i - from + 1) % block == 0) retained = math.max(retained, retainedMb(spark))
      System.err.println(f"[perfbench] ${wl.name} op $i: ${rec.wallS}%.3f s")
      rec.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
      recs += rec.copy(cacheMb = retained)
      i += 1
    }
    recs.result()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples beyond). Below 21 samples that
    * percentile would not exceed the median, so the maximum is reported,
    * with 0 samples beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 21) (s(n - 11), 100.0 * (n - 10) / n, 10) else (s.last, 100.0, 0)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  final case class Metric(name: String, value: Double, unit: String)

  def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}")
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val scale = if (args.smoke) smoke else full
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, args.work)
    try run(spark, args, scale, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, scale: Scale, cores: Int): Unit = {
    val sc = spark.sparkContext
    val knobs = Knobs(args.seed)
    val untraced = new Tracer(sc, false)
    lazy val fx = new KbFixture(spark, s"${args.work}/tpch", args.seed, scale.sf)
    def make(name: String): Workload = name match {
      case "construct" => new ConstructWl(spark, args.work, knobs, scale.docs, scale.files)
      case "sample" => new SampleWl(spark, fx, knobs, scale.sampleSizes)
      case "graph" => new GraphWl(spark, fx, knobs, scale.sourceRate)
      case "query" => new QueryWl(spark, fx, knobs)
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")
    phase("session ready")
    // input tables are benchmark-side, written before any timed set-up
    if (args.workload != "construct") fx.sizes
    phase("inputs written")
    val wl = make(args.workload)
    // a traced run reports no set-up time, so it sets up once
    val setupS = (1 to (if (args.trace) 1 else SetupReps)).map { _ =>
      val t0 = Clock.now
      wl.setup()
      Clock.secs(t0)
    }
    phase(s"set-up passes ${setupS.map(s => f"$s%.2f").mkString(" ")}")
    wl.reference()
    phase("reference pass done")

    val stolen0 = Clock.stolenNs
    val (recs, metrics) =
      if (!args.trace) {
        val recs = loop(spark, wl, untraced, args.seconds, 0, Int.MaxValue, wl.block,
          wl.minBlocks)
        val ok = recs.filter(_.failures.isEmpty)
        val walls = ok.map(_.wallS)
        val (tailS, _, _) = if (walls.nonEmpty) tail(walls) else (Double.NaN, 0.0, 0)
        (recs, Seq(
          Metric("setup_s", median(setupS), "s"),
          Metric("p50_s", if (walls.nonEmpty) median(walls) else Double.NaN, "s"),
          Metric("tail_s", tailS, "s"),
          Metric("ops_per_s", ok.size / walls.sum, "1/s"),
          Metric("cache_peak_mb", recs.map(_.cacheMb).max, "MB")))
      } else traced(spark, args, wl, make, fx)

    val stolenS = (Clock.stolenNs - stolen0) / 1e9
    phase("loop done")
    val failed = recs.count(_.failures.nonEmpty)
    val walls = recs.filter(_.failures.isEmpty).map(_.wallS)
    val (_, pct, beyond) = if (walls.nonEmpty) tail(walls) else (0.0, 0.0, 0)
    val failures = recs.flatMap(_.failures)
    val info = Seq(
      "workload" -> str(args.workload), "seed" -> args.seed.toString,
      "cores" -> cores.toString, "smoke" -> args.smoke.toString,
      "trace" -> args.trace.toString, "ops" -> recs.size.toString,
      "failed_ratio" -> num(if (recs.isEmpty) 1.0 else failed.toDouble / recs.size),
      "tail_percentile" -> num(pct), "tail_samples_beyond" -> beyond.toString,
      "setup_runs_s" -> setupS.map(num).mkString("[", ", ", "]"),
      "op_walls_s" -> recs.map(r => num(r.wallS)).mkString("[", ", ", "]"),
      "loop_stolen_s" -> num(stolenS),
      "triples_per_s" -> num(recs.map(_.triples).sum / recs.map(_.triplesS).sum),
      "failures" -> failures.take(20).map(str).mkString("[", ", ", "]"))
      .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    println(s"""{"info": $info}""")
    val correct = recs.nonEmpty && failed == 0 && metrics.forall(m => !m.value.isNaN)
    println(s"""{"correct": $correct, "attempted": ${recs.size}, "failed": $failed, """ +
      s""""metrics": ${metricsJson(metrics)}}""")
  }

  /** Traced run: the workload's loop untraced for half the time (at least
    * the operations that reach all its layers), then the same operations
    * again with spans on (their wall difference is the tracing overhead),
    * then the covering operations of every other workload and one traced
    * KB load, so every layer is measured. */
  private def traced(spark: SparkSession, args: Args, wl: Workload, make: String => Workload,
                     fx: => KbFixture): (Seq[Rec], Seq[Metric]) = {
    val sc = spark.sparkContext
    val plain = loop(spark, wl, new Tracer(sc, false), args.seconds / 2, 0, Int.MaxValue,
      wl.coverOps)
    val t = new Tracer(sc, true)
    val recs = loop(spark, wl, t, 1e6, 0, plain.size, 1)
    val others = workloads.filterNot(_ == args.workload).zipWithIndex.flatMap { case (name, k) =>
      val w = make(name)
      w.setup()
      loop(spark, w, t, 1e6, 1000000 * (k + 1), w.coverOps, 1)
    }
    fx.load(t, 9000000L)
    t.drain()
    // median of per-operation differences, so a cold first operation of
    // the untraced pass does not dominate
    val overhead = median(recs.zip(plain).map { case (a, b) => a.wallS - b.wallS })
    val spans = t.spans
    Files.createDirectories(Paths.get(args.out))
    val (table, ms) = Layers.report(spans, t.listener.get.unattributedJobs.get(), overhead)
    Files.write(Paths.get(args.out, s"trace-${args.workload}-seed${args.seed}.json"),
      Layers.spansJson(spans, table).getBytes(StandardCharsets.UTF_8))
    System.err.println(table)
    (recs ++ others, ms)
  }
}
