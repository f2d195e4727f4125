package graftbench

import Main.{Metric, median, num, str}

/** The per-layer metrics of a traced run, computed from its spans.
  *
  * A layer is one public entry point of an engine module, named
  * `<module>.<Object>.<function>`; its metrics are medians over its calls:
  * wall seconds, Spark jobs, tasks, shuffle-write bytes and output rows
  * (graph operators add spill bytes). Walk steps count the start
  * placement as step 0. Operation spans (`<workload>.op`)
  * are the roots; the part of an operation no layer span covers is its
  * `uncovered_s`. */
object Layers {

  val pipeline: Seq[String] =
    Seq("pages", "extracted", "mentions", "linked", "triples", "merge", "replay")
      .map(s => s"pipeline.$s")
  val graph: Seq[String] = Seq("sample.PageRank.compute", "sample.GraphMetrics.cooccurrence",
    "sample.Louvain.run", "sample.Betweenness.spCounts", "sample.GraphMetrics.linkPredFeatures")
  val layers: Seq[String] = pipeline ++ Seq("sources.TpchKg.load",
    "sample.RandomNodeSampler.draw", "sample.RandomEdgeSampler.draw",
    "sample.WalkSampler.draw", "sample.ForestFireSampler.draw",
    "sample.Samplers.finalizeSample",
    "lp.LearningProblem.encode", "lp.LearningProblem.evaluateConcept") ++ graph ++
    Seq("core.Bgp.matchPatternOptimized", "expr.Eval")

  val fields: Seq[(String, String)] = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_write_bytes" -> "bytes", "rows_out" -> "rows")

  /** Every per-layer metric name with its unit, in report order. */
  val metricNames: Seq[(String, String)] =
    layers.flatMap(l => fields.map { case (f, u) => s"$l.$f" -> u }) ++
      graph.map(l => s"$l.spill_bytes" -> "bytes") ++ Seq(
      "sample.WalkSampler.draw.nodes_per_step" -> "ratio",
      "sample.ForestFireSampler.draw.nodes_per_job" -> "ratio",
      "pipeline.linked.rows_per_mention" -> "ratio",
      "trace.overhead_s" -> "s",
      "trace.unattributed_jobs" -> "count") ++
      Main.workloads.map(w => s"$w.uncovered_s" -> "s")

  /** (self-time table, metrics). */
  def report(spans: Seq[Span], unattributed: Long, overheadS: Double): (String, Seq[Metric]) = {
    val byName = spans.groupBy(_.name)
    val children = spans.groupBy(_.parent)
    def covered(s: Span) = children.getOrElse(s.id, Nil).map(_.wallS).sum
    def med(l: String)(f: Span => Double): Double =
      byName.get(l).map(ss => median(ss.map(f))).getOrElse(Double.NaN)

    val perLayer = layers.flatMap { l =>
      Seq(med(l)(_.wallS), med(l)(_.jobs.get.toDouble), med(l)(_.tasks.get.toDouble),
        med(l)(_.shuffleWriteBytes.get.toDouble), med(l)(_.rowsOut.toDouble))
    } ++ graph.map(l => med(l)(_.spillBytes.get.toDouble))
    val walkRatio = byName.getOrElse("sample.WalkSampler.draw", Nil)
      .filter(_.notes.contains("steps")).map(s => s.rowsOut / (s.notes("steps") + 1))
    val ffRatio = byName.getOrElse("sample.ForestFireSampler.draw", Nil)
      .filter(_.jobs.get > 0).map(s => s.rowsOut.toDouble / s.jobs.get)
    val mentions = byName.getOrElse("pipeline.mentions", Nil).map(s => s.op -> s.rowsOut).toMap
    val linkRatio = byName.getOrElse("pipeline.linked", Nil)
      .flatMap(s => mentions.get(s.op).filter(_ > 0).map(m => s.rowsOut.toDouble / m))
    def medOr(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    val uncovered = Main.workloads.map { w =>
      medOr(byName.getOrElse(s"$w.op", Nil).map(s => s.wallS - covered(s)))
    }
    val values = perLayer ++ Seq(medOr(walkRatio), medOr(ffRatio), medOr(linkRatio),
      overheadS, unattributed.toDouble) ++ uncovered
    val metrics = metricNames.zip(values).map { case ((n, u), v) => Metric(n, v, u) }

    // self time: span wall minus what its child spans cover
    val rows = spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(_.wallS).sum, ss.map(s => s.wallS - covered(s)).sum,
        ss.map(_.jobs.get).sum, ss.map(_.tasks.get).sum)
    }.sortBy(r => (!r._1.endsWith(".op"), -r._4))
    val table = (f"${"span"}%-40s ${"calls"}%6s ${"wall_s"}%10s ${"self_s"}%10s ${"jobs"}%7s ${"tasks"}%8s" +:
      rows.map { case (n, c, w, s, j, t) => f"$n%-40s $c%6d $w%10.3f $s%10.3f $j%7d $t%8d" })
      .mkString("\n")
    (table, metrics)
  }

  /** All spans plus the self-time table, as one JSON document. */
  def spansJson(spans: Seq[Span], table: String): String = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val items = spans.sortBy(_.startNs).map { s =>
      Seq("id" -> s.id.toString, "op" -> s.op.toString, "name" -> str(s.name),
        "parent" -> s.parent.toString, "start_s" -> num((s.startNs - t0) / 1e9),
        "end_s" -> num((s.endNs - t0) / 1e9), "jobs" -> s.jobs.get.toString,
        "tasks" -> s.tasks.get.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.get.toString,
        "spill_bytes" -> s.spillBytes.get.toString, "rows_out" -> s.rowsOut.toString)
        .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    }
    s"""{"spans": ${items.mkString("[\n", ",\n", "\n]")},\n"self_time_table": ${str(table)}}\n"""
  }
}
