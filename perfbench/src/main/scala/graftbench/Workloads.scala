package graftbench

import graft.core.Kb
import graft.expr._
import graft.lp.{F1, LearningProblem, Lp}
import graft.pipeline.{KgPipeline, Lineage, Materialize}
import graft.sample._
import graft.sources.TpchKg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** What one timed operation hands back to the loop. `wallS` covers the
  * engine calls and the materialization of their results; `triples` is
  * the triple rows the operation produced or read, over `triplesS` seconds
  * of its wall; `check` runs after the clock stops and returns one message
  * per failed output check. */
final case class OpOut(wallS: Double, triples: Long, triplesS: Double,
                       check: () => Seq[String])

/** A closed-loop workload: one client, the next operation is sent only
  * after the previous one returned. */
trait Workload {
  def name: String
  /** One set-up pass (the loop times several and keeps the last). */
  def setup(): Unit
  /** Untimed pass that records the reference outputs the checks compare
    * against; it also warms the JIT and the scheduler. */
  def reference(): Unit
  def op(i: Int, t: Tracer): OpOut
  /** The loop runs whole blocks of this many operations, so every run
    * measures the same request mix. */
  def block: Int = 1
  /** Blocks a timed loop always runs, however short `--seconds` is. */
  def minBlocks: Int = 1
  /** Operations from index 0 that reach every layer of this workload. */
  def coverOps: Int = 1
}

/** Order-independent fingerprint of a frame: row count and
  * Σ xxhash64(row) mod p over the integer/string key columns, in one job. */
object Fp {
  private val P = 1000000007L
  def keyCols(df: DataFrame): Seq[String] = df.schema.fields.collect {
    case f if Seq("string", "int", "bigint", "boolean").contains(f.dataType.simpleString) => f.name
  }.toSeq
  def of(df: DataFrame): (Long, Long) = {
    val ks = keyCols(df)
    require(ks.nonEmpty, s"no key columns in ${df.columns.mkString(",")}")
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(ks.map(col): _*), lit(P))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The benchmark's clock: wall time minus this machine's share of the CPU
  * time its hypervisor ran other guests on, the `steal` column of
  * /proc/stat divided by the CPU count. On a shared host the stolen share
  * moves between minutes, and with it every wall time, by more than a
  * change to the engine would; stolen time is time the engine could not
  * run. Where /proc/stat has no steal column the clock is the wall clock. */
object Clock {
  private val procStat = java.nio.file.Paths.get("/proc/stat")
  // the kernel reports CPU times in USER_HZ ticks, 100 a second on Linux
  private val NsPerTick = 10000000L
  private val cpus: Int =
    try java.nio.file.Files.readAllLines(procStat).asScala.count(_.matches("cpu\\d+ .*"))
    catch { case _: java.io.IOException => 0 }

  /** Nanoseconds stolen since boot, per CPU. */
  def stolenNs: Long =
    if (cpus == 0) 0L
    else try {
      val r = java.nio.file.Files.newBufferedReader(procStat)
      val first = try r.readLine() finally r.close()
      val f = first.trim.split("\\s+")
      if (f.length > 8) f(8).toLong * NsPerTick / cpus else 0L
    } catch { case _: java.io.IOException => 0L }

  def now: Long = System.nanoTime() - stolenNs
  def secs(t0: Long): Double = (now - t0) / 1e9
}

/** Seed-derived constants shared by the workloads. */
final case class Knobs(seed: Long) {
  def h(salt: String, k: Long = 0L): Long =
    graft.core.Determinism.pmodJvm(
      graft.core.Determinism.detHashJvm(seed, s"$salt|$k"), Long.MaxValue)
  def pickKey(salt: String, n: Long, k: Long = 0L): Long = h(salt, k) % n + 1
}

/** The materialized TPC-H knowledge graph the sample, graph and query
  * workloads read. The tables are written once; each set-up pass derives
  * the KB with `TpchKg.load` and materializes its four fact tables. */
final class KbFixture(spark: SparkSession, dir: String, seed: Long, sf: Double) {
  val sizes: Gen.Sizes = Gen.tpch(spark, dir, seed, sf)
  @volatile private var current: Kb = _

  def load(t: Tracer, op: Long): Kb = {
    if (current != null) current.unpersist()
    current = t.span(op, "sources.TpchKg.load") {
      val raw = TpchKg.load(spark, dir)
      val kb = Kb(raw.nodes.localCheckpoint(true), raw.edges.localCheckpoint(true),
        raw.attrs.localCheckpoint(true), raw.types.localCheckpoint(true), raw.tbox)
      kb.edges.count()
      kb
    }(_.edges.count())
    current
  }
  def kb: Kb = current
}

/** `construct`: a fresh batch of pages through `KgPipeline.run` into a new
  * checkpoint dir and `Materialize.merge` into a new store, then the same
  * batch replayed (every stage resumes; the merge appends nothing). */
final class ConstructWl(spark: SparkSession, work: String, knobs: Knobs, docs: Long,
                        files: Int) extends Workload {
  val name = "construct"
  private val dataDir = s"$work/construct/data"
  // the seed moves the batch's doc ids, hence every planted fact
  private val offset = 1000L + knobs.h("doc-offset") % 1000000L * 97L
  private var refTotals: Map[String, (Long, Long)] = Map.empty
  private var refEdges = -1L

  def setup(): Unit = Gen.documents(spark, dataDir, knobs.seed, docs, offset, files)

  private def totals(ck: String): Map[String, (Long, Long)] =
    Lineage.totals(spark, ck).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def delete(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
  }

  def reference(): Unit = {
    val out = op(-1, new Tracer(spark.sparkContext, false))
    refTotals = totals(s"$work/construct/ck--1")
    refEdges = lastEdges
    val failed = out.check()
    require(failed.isEmpty, s"construct reference pass failed: ${failed.mkString("; ")}")
  }

  @volatile private var lastEdges = -1L

  def op(i: Int, t: Tracer): OpOut = {
    val ck = s"$work/construct/ck-$i"
    val store = s"$work/construct/store-$i"
    val io = new graft.core.ParquetTableIO(spark, store)
    val t0 = Clock.now
    var fresh: Materialize.MergeStats = null
    var replay: Materialize.MergeStats = null
    var freshS = 0.0
    t.span(i, "construct.op") {
      var last: DataFrame = null
      KgPipeline.stages.foreach { s =>
        last = t.span(i, s"pipeline.$s")(KgPipeline.run(spark, dataDir, ck, upTo = s))(_ => -1L)
      }
      fresh = t.span(i, "pipeline.merge")(Materialize.merge(io, "kg", last))(_.newEdges)
      freshS = Clock.secs(t0)
      replay = t.span(i, "pipeline.replay") {
        Materialize.merge(io, "kg", KgPipeline.run(spark, dataDir, ck))
      }(_ => -1L)
    }(_ => -1L)
    val wall = Clock.secs(t0)
    val tot = totals(ck)
    KgPipeline.stages.foreach(s => t.annotate(i, s"pipeline.$s", tot(s)._1))
    t.annotate(i, "pipeline.replay", tot("triples")._1)
    lastEdges = fresh.newEdges
    OpOut(wall, tot("linked")._1, freshS, () => {
      val msgs = Seq.newBuilder[String]
      if (refTotals.nonEmpty)
        KgPipeline.stages.foreach { s =>
          if (tot.get(s) != refTotals.get(s))
            msgs += s"construct: stage $s lineage ${tot.get(s)} != reference ${refTotals.get(s)}"
        }
      if (refEdges >= 0 && fresh.newEdges != refEdges)
        msgs += s"construct: fresh merge stored ${fresh.newEdges} edges, reference $refEdges"
      if (fresh.newEdges <= 0 || fresh.newNodes <= 0)
        msgs += s"construct: fresh merge stored nothing ($fresh)"
      if (replay != Materialize.MergeStats(0, 0))
        msgs += s"construct: replay appended $replay, expected 0 edges and 0 nodes"
      if (tot("linked")._1 <= 0) msgs += "construct: linked stage is empty"
      if (i >= 0) { delete(ck); delete(store) }
      msgs.result()
    })
  }
}

/** `sample`: one body of the reference's evaluation-table loop — draw,
  * finalize, encode the LP on the sample, evaluate a concept — rotating
  * over the four sampler engines in the classic, LP-first and
  * LP-centralized policies at two sample sizes. */
final class SampleWl(spark: SparkSession, fx: KbFixture, knobs: Knobs, sizes: Seq[Int])
  extends Workload {
  val name = "sample"
  /** (sampler, n): one request per engine, mixing the three policies and
    * both sizes. The loop repeats this block, each request with a fresh
    * sampler seed. Left out: the LP-first and LP-centralized walks (one
    * such draw takes longer than a whole run) and the LP-centralized
    * forest fire (its cost swings by half with the LP individuals, hence
    * with the workload seed). */
  val requests: Seq[(String, Int)] = Seq(
    "RandomNodeSamplerLPCentralized" -> sizes(0), "RandomEdgeSamplerLPFirst" -> sizes(1),
    "RandomWalkSampler" -> sizes(0), "ForestFireSampler" -> sizes(1))
  override def block: Int = 4
  override def coverOps: Int = 4

  private def lp: Seq[String] = {
    val z = fx.sizes
    Seq(s"c:${knobs.pickKey("lp-c1", z.customers)}", s"c:${knobs.pickKey("lp-c2", z.customers)}",
      s"s:${knobs.pickKey("lp-s1", z.suppliers)}", s"s:${knobs.pickKey("lp-s2", z.suppliers)}")
      .distinct
  }
  /** `evaluateConcept` scores only a non-empty retrieval, and the scoring
    * costs more than the retrieval. The region part alone is empty on most
    * samples (they rarely hold a region) and non-empty on some, depending
    * on the seed; the `Agent` part holds every LP individual and almost
    * every walk or fire sample, so every request scores. */
  private val concept = Or(Seq(Named("Agent"),
    Exists("inNation", HasValue("inRegion", s"r:${knobs.h("lp-region") % 5}"))))

  def setup(): Unit = fx.load(new Tracer(spark.sparkContext, false), -1)

  /** One untimed request of the first kind, with its own seed, warms the
    * JIT and the plan caches the finalize, encode and evaluate steps share,
    * so the first timed request is not a cold outlier. */
  def reference(): Unit = {
    val failed = op(-requests.size, new Tracer(spark.sparkContext, false)).check()
    require(failed.isEmpty, s"sample warm-up failed: ${failed.mkString("; ")}")
  }

  /** The engine class behind a registry name, for the per-layer span. */
  private def engineOf(s: GraphSampler): String = s.getClass.getSimpleName

  def op(i: Int, t: Tracer): OpOut = {
    val kb = fx.kb
    val (name, n) = requests(Math.floorMod(i, requests.size))
    val lpNodes = if (name.contains("LP")) lp else Nil
    val seed = knobs.h("sampler", i.toLong) % Int.MaxValue
    val t0 = Clock.now
    var drawn: Drawn = null
    var s: Kb = null
    var nodes = 0L
    var steps = -1
    t.span(i, "sample.op") {
      val sampler = Samplers.byName(name, kb, lp = lpNodes, seed = seed)
      drawn = t.span(i, s"sample.${engineOf(sampler)}.draw") {
        val d = sampler.draw(n)
        Drawn(d.sampledNodes.localCheckpoint(true), d.selectedEdges.map(_.localCheckpoint(true)))
      }(_.sampledNodes.count())
      sampler match {
        case w: WalkSampler => steps = w.lastStats.map(_.steps).getOrElse(-1)
        case _ =>
      }
      s = t.span(i, "sample.Samplers.finalizeSample") {
        val f = Samplers.finalizeSample(kb, drawn)
        val m = f.copy(nodes = f.nodes.localCheckpoint(true), edges = f.edges.localCheckpoint(true))
        nodes = m.nodes.count()
        m
      }(_ => nodes)
      val elp = t.span(i, "lp.LearningProblem.encode") {
        val e = LearningProblem.encode(s, Lp(lp, Nil), seed = seed)
        e.copy(kbNeg = e.kbNeg.localCheckpoint(true))
      }(_.kbNeg.count())
      t.span(i, "lp.LearningProblem.evaluateConcept")(
        LearningProblem.evaluateConcept(s, concept, F1, elp))(_ => 1L)
    }(_ => nodes)
    val wall = Clock.secs(t0)
    if (steps >= 0) t.note(i, "sample.WalkSampler.draw", "steps", steps)
    val edges = s.edges
    OpOut(wall, edges.count(), wall, () => {
      val msgs = Seq.newBuilder[String]
      val okCount = nodes == n || (name.startsWith("RandomEdge") && nodes == n + 1)
      if (!okCount) msgs += s"sample: $name($n) kept $nodes nodes"
      if (lpNodes.nonEmpty) {
        val kept = s.nodes.filter(col("id").isin(lpNodes: _*)).count()
        if (kept != lpNodes.size) msgs += s"sample: $name($n) kept $kept of ${lpNodes.size} LP nodes"
      }
      val outside = edges.join(kb.edges, Seq("src", "pred", "dst"), "left_anti").count()
      val dangling = edges.join(s.nodes.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .count() + edges.join(s.nodes.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti").count()
      if (outside + dangling > 0)
        msgs += s"sample: $name($n) kept $outside edges outside the KB and $dangling dangling"
      msgs.result()
    })
  }
}

/** `graph`: one analytics pass — PageRank, co-occurrence → Louvain,
  * σ-BFS shortest-path counts and link-prediction features. */
final class GraphWl(spark: SparkSession, fx: KbFixture, knobs: Knobs, sourceRate: Long)
  extends Workload {
  val name = "graph"
  private var ref: Map[String, (Long, Long)] = Map.empty

  def setup(): Unit = fx.load(new Tracer(spark.sparkContext, false), -1)
  def reference(): Unit = {
    val out = op(-1, new Tracer(spark.sparkContext, false))
    ref = last
    require(out.check().isEmpty)
  }
  @volatile private var last: Map[String, (Long, Long)] = Map.empty

  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def op(i: Int, t: Tracer): OpOut = {
    val kb = fx.kb
    val t0 = Clock.now
    var outs: Seq[(String, DataFrame)] = Nil
    t.span(i, "graph.op") {
      val pr = t.span(i, "sample.PageRank.compute")(
        mat(PageRank.compute(kb, iterations = 30)))(_.count())
      val co = t.span(i, "sample.GraphMetrics.cooccurrence")(
        mat(GraphMetrics.cooccurrence(kb.edges, "contains")))(_.count())
      val lv = t.span(i, "sample.Louvain.run")(mat(Louvain.run(co, rounds = 2)))(_.count())
      val contains = kb.edges.filter(col("pred") === "contains")
      val und = GraphMetrics.undirected(contains, "contains")
      val seeds = contains.select(col("src").as("id")).distinct()
        .filter(pmod(xxhash64(lit(knobs.seed), col("id")), lit(sourceRate)) === 0)
      val sp = t.span(i, "sample.Betweenness.spCounts")(
        mat(Betweenness.spCounts(und, seeds, 4)))(_.count())
      val lpf = t.span(i, "sample.GraphMetrics.linkPredFeatures")(
        mat(GraphMetrics.linkPredFeatures(und, maxZDeg = 32, minSupport = 2)))(_.count())
      outs = Seq("pagerank" -> pr.select("id"), "cooccurrence" -> co, "louvain" -> lv,
        "spcounts" -> sp, "linkpred" -> lpf)
    }(_ => -1L)
    val wall = Clock.secs(t0)
    val fps = outs.map { case (k, df) => k -> Fp.of(df) }.toMap
    last = fps
    OpOut(wall, kbEdges, wall, () => {
      val msgs = Seq.newBuilder[String]
      fps.foreach { case (k, fp) =>
        if (fp._1 <= 0) msgs += s"graph: $k is empty"
        if (ref.nonEmpty && ref.get(k) != Some(fp))
          msgs += s"graph: $k fingerprint $fp != reference ${ref.get(k)}"
      }
      msgs.result()
    })
  }

  private def kbEdges: Long = fx.kb.edges.count()
}

/** `query`: one short read-only query — multi-atom BGPs through
  * `Bgp.matchPatternOptimized` and class-expression retrievals through
  * `graft.expr.Eval`; the repeated expressions go through one
  * `Eval.Cached`, so they hit its retrieval cache after their first use. */
final class QueryWl(spark: SparkSession, fx: KbFixture, knobs: Knobs) extends Workload {
  val name = "query"
  private var cached: Eval.Cached = _
  private var ref: Map[Int, (Long, Long)] = Map.empty

  sealed trait Q
  final case class Bgp(atoms: Seq[(String, String, String)]) extends Q
  final case class Ce(ce: ClassExpr, repeat: Boolean) extends Q

  /** The query mix. Region constants come from the seed; nation constants
    * are the nations of seed-picked suppliers, so no query is empty. The
    * last retrieval has the shape of the first cached one, so its region
    * differs from that one's: an equal plan would be served from the
    * persisted result, and the cache hits would vary with the seed. */
  private def mix(kb: Kb): IndexedSeq[Q] = {
    def r(salt: String) = s"r:${knobs.h(salt) % 5}"
    val region2 = knobs.h("q-region2") % 5
    val region4 = s"r:${(region2 + 1 + knobs.h("q-region4") % 4) % 5}"
    def n(salt: String) = {
      val s = s"s:${knobs.pickKey(salt, fx.sizes.suppliers)}"
      kb.edges.filter(col("src") === s && col("pred") === "inNation").head().getString(2)
    }
    IndexedSeq(
      Bgp(Seq(("?o", "suppliedBy", "?s"), ("?o", "placedBy", "?c"), ("?s", "inNation", "?n"),
        ("?c", "inNation", "?n"), ("?n", "inRegion", r("q-region")))),
      Ce(Exists("placedBy", Exists("inNation", HasValue("inRegion", s"r:$region2"))),
        repeat = true),
      Bgp(Seq(("?o", "placedBy", "?c"), ("?c", "inNation", n("q-nation")))),
      Ce(HasValue("inNation", n("q-nation2")), repeat = false),
      Bgp(Seq(("?o", "contains", "?p"), ("?o", "suppliedBy", "?s"),
        ("?s", "inNation", n("q-nation3")))),
      Ce(MinCard(3, "contains", Named("Part")), repeat = true),
      Bgp(Seq(("?c", "inNation", "?n"), ("?n", "inRegion", r("q-region3")),
        ("?o", "placedBy", "?c"))),
      Ce(And(Seq(Named("Order"), Exists("suppliedBy", HasValue("inNation", n("q-nation4"))))),
        repeat = false),
      Ce(MaxCard(2, "contains", Named("Part")), repeat = true),
      Ce(Exists("placedBy", Exists("inNation", HasValue("inRegion", region4))),
        repeat = false))
  }
  private var queries: IndexedSeq[Q] = IndexedSeq.empty
  override def block: Int = 10
  /** Three rotations give 30 operations, so `tail_s` is a percentile with
    * ten samples beyond it rather than the maximum. */
  override def minBlocks: Int = 3
  override def coverOps: Int = 2
  @volatile private var lastFp: (Long, Long) = (0L, 0L)

  def setup(): Unit = {
    fx.load(new Tracer(spark.sparkContext, false), -1)
    cached = new Eval.Cached(fx.kb)
    queries = IndexedSeq.empty
  }

  /** One untimed rotation through the loop's own path: its fingerprints
    * are the reference, and it fills the retrieval cache. Four more
    * untimed rotations, checked against the first, let the JIT settle: a
    * rotation's time still falls by a quarter or more over the first six,
    * and timed rotations on that slope would measure how far the JIT had
    * got rather than the engine. */
  def reference(): Unit = {
    val untraced = new Tracer(spark.sparkContext, false)
    ref = Map.empty
    if (queries.isEmpty) queries = mix(fx.kb)
    ref = queries.indices.map { k =>
      val failed = op(k, untraced).check()
      require(failed.isEmpty, s"query reference pass failed: ${failed.mkString("; ")}")
      k -> lastFp
    }.toMap
    for (_ <- 1 to 4; k <- queries.indices) {
      val failed = op(k, untraced).check()
      require(failed.isEmpty, s"query warm-up rotation failed: ${failed.mkString("; ")}")
    }
  }

  def op(i: Int, t: Tracer): OpOut = {
    val kb = fx.kb
    if (queries.isEmpty) queries = mix(kb)
    val k = Math.floorMod(i, queries.size)
    val t0 = Clock.now
    val fp = t.span(i, "query.op") {
      queries(k) match {
        case Bgp(atoms) => t.span(i, "core.Bgp.matchPatternOptimized")(
          Fp.of(graft.core.Bgp.matchPatternOptimized(kb.edges, atoms)))(_._1)
        case Ce(ce, repeat) => t.span(i, "expr.Eval")(
          Fp.of(if (repeat) cached(ce) else Eval(kb, ce)))(_._1)
      }
    }(_._1)
    val wall = Clock.secs(t0)
    lastFp = fp
    OpOut(wall, fp._1, wall, () => {
      val msgs = Seq.newBuilder[String]
      if (fp._1 <= 0) msgs += s"query: #$k returned no rows"
      ref.get(k).foreach { want =>
        if (want != fp) msgs += s"query: #$k fingerprint $fp != reference $want"
      }
      msgs.result()
    })
  }
}
