package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.perfbench.Tracer

/** Folds a traced run's spans into the per-layer metrics.
  *
  * Layer names are the program's module names. Spark counters are summed
  * over the jobs each span triggered and divided by the number of
  * iterations (drops, passes or DML ops); `*_ms` of a single call are
  * medians over its spans. Column expressions of `graft.functions` are
  * fused into whole-stage codegen and have no call boundary: their cost
  * shows as `spark.executor_cpu_ms` inside the `operators`/`sources`
  * span that uses them. */
object Layers {
  val commitSpans = Set("committed.write", "committed.merge", "committed.merge_mor",
    "committed.delete_mor")
  val readSpans = Set("operators.avg_price_by_year", "committed.curated_read",
    "committed.current_read", "sql.time_travel_read", "committed.cdf_read")

  def fold(t: Tracer, rec: Rec, cores: Int): mutable.LinkedHashMap[String, Double] = {
    val all = t.closed
    val byId = all.map { case (s, a) => s.id -> (s, a) }.toMap
    val children = all.groupBy(_._1.parent)
    def descendants(id: Int): Seq[t.Span] =
      children.getOrElse(id, Nil).flatMap { case (c, _) => c +: descendants(c.id) }
    // spans of the measured window: the iterations and everything below
    val roots = all.filter { case (s, _) => s.parent == 0 && s.name.startsWith("bench.") }
    val window = roots.flatMap { case (r, _) => r +: descendants(r.id) }.map(s => byId(s.id))
    val it = math.max(1.0, rec.counts("iterations"))
    def sum(f: t.Acc => Double, spans: Seq[(t.Span, t.Acc)] = window) =
      spans.map { case (_, a) => a.synchronized(f(a)) }.sum
    def wallMs(s: t.Span) = (s.endNs - s.startNs) / 1e6
    def selfMs(s: t.Span) =
      wallMs(s) - children.getOrElse(s.id, Nil).map { case (c, _) => wallMs(c) }.sum
    def medianMs(name: String) = {
      val xs = all.collect { case (s, _) if s.name == name => wallMs(s) }
      if (xs.isEmpty) 0.0 else stats.median(xs)
    }
    def named(ns: Set[String]) = window.filter { case (s, _) => ns.contains(s.name) }
    def withDesc(spans: Seq[(t.Span, t.Acc)]) =
      spans.flatMap { case (s, _) => s +: descendants(s.id) }.map(x => byId(x.id))

    // layer calls: the direct children of the iteration spans; their wall
    // minus job time is driver-side work (benchmark bookkeeping between
    // calls is excluded)
    val calls = roots.flatMap { case (r, _) => children.getOrElse(r.id, Nil) }
    val driverOnly = calls.map { case (s, _) => t.driverOnlyMs(s, descendants(s.id)) }.sum
    val commits = named(commitSpans)
    val reads = named(readSpans)
    val rootWall = roots.map { case (r, _) => wallMs(r) }.sum

    // dedup sites inside Curation.run, by the frames of each SQL
    // execution's call site: pair generation and the edge checkpoint (the
    // first label-propagation execution of a pass, which runs the LSH
    // self-join) against the remaining label-propagation rounds
    var lshMs, collapseMs = 0.0
    named(Set("operators.curation")).foreach { case (c, _) =>
      val sites = withDesc(Seq(byId(c.id))).flatMap { case (_, a) => a.synchronized(a.jobSites.toList) }
      val byExec = sites.groupBy(_._1).toSeq.sortBy(_._1)
      val labelExecs = byExec.filter { case (x, _) => t.details(x).contains("Dedup$.canonicalLabels") }
      labelExecs.zipWithIndex.foreach { case ((_, js), i) =>
        val ms = js.map(_._3).sum.toDouble
        if (i == 0) lshMs += ms else collapseMs += ms
      }
      byExec.foreach { case (x, js) =>
        val d = t.details(x)
        if (!d.contains("Dedup$.canonicalLabels") &&
            (d.contains("Dedup$.minhash") || d.contains("Dedup$.verifyPairs")))
          lshMs += js.map(_._3).sum
      }
    }
    val passes = named(Set("operators.curation")).size.max(1)
    val drops = roots.count(_._1.name == "bench.drop").max(1)
    val c = rec.counts

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("spark.analysis_ms") = sum(_.analysisMs) / it
    m("spark.optimization_ms") = sum(_.optimizationMs) / it
    m("spark.planning_ms") = sum(_.planningMs) / it
    m("spark.jobs") = sum(_.jobs) / it
    m("spark.stages") = sum(_.stages) / it
    m("spark.tasks") = sum(_.tasks) / it
    m("spark.executor_run_ms") = sum(_.runMs) / it
    m("spark.executor_cpu_ms") = sum(_.cpuNs / 1e6) / it
    m("spark.driver_only_ms") = driverOnly / it
    m("spark.shuffle_read_bytes") = sum(_.shuffleRead) / it
    m("spark.shuffle_write_bytes") = sum(_.shuffleWrite) / it
    m("spark.spill_bytes") = sum(_.spill) / it
    m("spark.input_bytes") = sum(_.input) / it
    m("spark.output_bytes") = sum(_.output) / it
    m("spark.core_utilization") = sum(_.runMs) / (rootWall * cores).max(1.0)
    m("spark.failed_tasks") = sum(_.failedTasks)
    m("jvm.gc_ms") = rec.gcMs / it
    m("sources.csv_scan_bytes_per_raw_byte") =
      if (c("raw_bytes") > 0) sum(_.csvScanBytes) / c("raw_bytes") else 0.0
    m("sources.csv_schema_jobs") =
      if (c("raw_bytes") > 0) sum(_.csvJobs) / drops else 0.0
    m("operators.pipelines_self_ms") =
      named(Set("operators.pipelines")).map { case (s, _) => selfMs(s) }.sum /
        (if (c("raw_bytes") > 0) drops else 1)
    m("operators.pipelines_keep_ratio") =
      if (c("pipeline_rows_in") > 0) c("pipeline_rows_out") / c("pipeline_rows_in") else 0.0
    m("operators.avg_price_by_year_ms") = medianMs("operators.avg_price_by_year")
    m("operators.curation_ms") = medianMs("operators.curation")
    m("operators.dedup_lsh_ms") = lshMs / passes
    m("operators.dedup_collapse_ms") = collapseMs / passes
    m("operators.dedup_collapse_rounds") = sum(_.roundChecks) / passes
    m("operators.dedup_candidate_pairs") = c("candidate_pairs")
    m("operators.dedup_verified_pairs") = c("verified_pairs")
    m("operators.dedup_pair_yield") =
      if (c("candidate_pairs") > 0) c("verified_pairs") / c("candidate_pairs") else 0.0
    m("operators.checkpoint_bytes") = t.blockBytes.get / it
    m("committed.write_ms") = medianMs("committed.write")
    m("committed.merge_ms") = medianMs("committed.merge")
    m("committed.merge_mor_ms") = medianMs("committed.merge_mor")
    m("committed.delete_mor_ms") = medianMs("committed.delete_mor")
    m("committed.read_ms") = medianMs("committed.read")
    m("committed.changes_cdf_ms") = medianMs("committed.changes_cdf")
    m("committed.jobs_per_commit") =
      if (commits.isEmpty) 0.0 else sum(_.jobs, withDesc(commits)) / commits.size
    m("committed.driver_only_ms_per_commit") =
      if (commits.isEmpty) 0.0
      else commits.map { case (s, _) => t.driverOnlyMs(s, descendants(s.id)) }.sum / commits.size
    m("committed.files_written") = rec.filesWritten.toDouble / rec.commits.max(1)
    m("committed.bytes_written") = rec.bytesWritten.toDouble / rec.commits.max(1)
    m("committed.files_per_read") =
      if (reads.isEmpty) 0.0 else sum(_.filesRead, withDesc(reads)) / reads.size
    m("committed.live_files") = c("live_files") / c("reads").max(1)
    m("committed.live_delta_files") = c("live_delta_files") / c("reads").max(1)
    m("sql.time_travel_ms") = medianMs("sql.time_travel")
    m("sql.optimize_ms") = medianMs("sql.optimize")
    m("sql.history_ms") = medianMs("sql.history")
    m("queries.table_ms") = medianMs("queries.table")
    m("bench.iteration_ms") = stats.median(roots.map { case (r, _) => wallMs(r) })
    m("bench.iteration_self_ms") = stats.median(roots.map { case (r, _) => selfMs(r) })
    m
  }

  /** Per span name: calls, wall, self time and the Spark work under it.
    * Printed to stderr and kept as JSON beside the run. */
  def writeSpanTable(t: Tracer, out: Path): Unit = {
    val all = t.closed
    val children = all.groupBy(_._1.parent)
    def wallMs(s: t.Span) = (s.endNs - s.startNs) / 1e6
    val rows = all.groupBy(_._1.name).toSeq.map { case (name, ss) =>
      val self = ss.map { case (s, _) =>
        wallMs(s) - children.getOrElse(s.id, Nil).map(c => wallMs(c._1)).sum }.sum
      val driver = ss.map { case (s, _) => t.driverOnlyMs(s, Nil) }.sum
      def f(g: t.Acc => Long) = ss.map { case (_, a) => a.synchronized(g(a)) }.sum
      (name, ss.size, ss.map(x => wallMs(x._1)).sum, self, driver, f(_.jobs), f(_.stages),
        f(_.tasks), f(_.runMs), f(_.cpuNs) / 1000000, f(_.shuffleRead), f(_.shuffleWrite),
        f(_.input), f(_.output), f(_.analysisMs), f(_.optimizationMs), f(_.planningMs))
    }.sortBy(-_._3)
    val head = Seq("span", "calls", "wall_ms", "self_ms", "driver_only_ms", "jobs", "stages",
      "tasks", "exec_run_ms", "exec_cpu_ms", "shuffle_read_b", "shuffle_write_b", "input_b",
      "output_b", "analysis_ms", "optimization_ms", "planning_ms")
    System.err.println("== traced spans (own jobs only; self = wall - child spans) ==")
    System.err.println(head.mkString("\t"))
    rows.foreach { r =>
      System.err.println(r.productIterator.map {
        case d: Double => f"$d%.1f"
        case x => x.toString
      }.mkString("\t"))
    }
    val json = rows.map { r =>
      head.zip(r.productIterator.toSeq).map {
        case (k, v: String) => s""""$k":"$v""""
        case (k, v) => s""""$k":$v"""
      }.mkString("{", ",", "}")
    }.mkString("[", ",\n", "]")
    Files.writeString(out, json + "\n")
  }
}
