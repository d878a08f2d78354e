package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced window: spans, Spark job records and
  * server scrapes attributed to the operations that caused them.
  */
object Layers {
  val SparkOps: Seq[String] = Seq("lastn", "range", "candle", "dest", "sql", "write_one", "batch")
  val QueryKinds: Seq[String] = Bench.QueryKinds
  private val Tol = 1.0 // ms: Spark event times have millisecond resolution

  /** Every per-layer metric with its unit, in output order. */
  val Metrics: Seq[(String, String)] =
    Seq("wire.server_s.query" -> "s", "wire.overhead_s.query" -> "s",
      "wire.resp_bytes.lastn" -> "bytes", "wire.resp_bytes.range" -> "bytes",
      "wire.resp_bytes.candle" -> "bytes", "wire.client_decode_s.range" -> "s",
      "wire.server_s.write" -> "s", "wire.write_csm_s" -> "s", "wire.server_s.ops" -> "s",
      "catalog.resolve_s.per_query" -> "s", "catalog.resolve_calls.per_query" -> "count") ++
      Seq("list", "status", "open").map(k => s"catalog.fs_ops.$k.per_query" -> "count") ++
      Seq("catalog.commit_s" -> "s", "catalog.commits.per_batch" -> "count") ++
      CountingFs.Kinds.map(k => s"catalog.fs_ops.$k.per_commit" -> "count") ++
      Seq("catalog.publishes.per_commit" -> "count", "catalog.manifest_bytes.per_commit" -> "bytes",
        "catalog.commit_input_bytes" -> "bytes", "catalog.write_amp" -> "ratio", "catalog.live_files" -> "count",
        "catalog.max_files_per_partition" -> "count", "catalog.space_amp" -> "ratio",
        "streaming.base_commit_s" -> "s", "streaming.cascade_s" -> "s",
        "streaming.recompute_rows" -> "count") ++
      SparkOps.flatMap(op => Seq(s"spark.jobs.$op" -> "count", s"spark.tasks.$op" -> "count",
        s"spark.exec_cpu_s.$op" -> "s", s"spark.sched_wait_s.$op" -> "s",
        s"spark.input_bytes.$op" -> "bytes", s"spark.shuffle_bytes.$op" -> "bytes",
        s"spark.plan_s.$op" -> "s")) ++
      Seq("spark.gc_s" -> "s", "spark.failed_tasks" -> "count") ++
      Bench.OpsJobOrder.flatMap(j => Seq(s"ops.job_s.$j" -> "s", s"ops.exec_cpu_s.$j" -> "s",
        s"ops.shuffle_bytes.$j" -> "bytes", s"ops.spark_jobs.$j" -> "count")) ++
      Seq("trace.overhead_frac" -> "ratio", "trace.span_coverage" -> "ratio")

  /** Logical bytes of the bars an operation submits (epoch + five doubles + symbol). */
  private val BatchLogicalBytes = Gen.Symbols.map(48 + _.length).sum.toDouble
  private val WriteLogicalBytes = 48.0 + 3

  /** A span of an operation's tree with its parent span id (None for the root) and self ms. */
  final case class Node(span: Span, parent: Option[Long], selfMs: Double)

  final case class Result(metrics: Map[String, Double], selfS: Map[String, Map[String, Double]],
                          coverage: Map[String, Double], nodes: Seq[Node])

  def compute(w: Window, plain: Option[Window], mainKinds: Seq[String],
              scrapes: Option[(Map[String, Double], Map[String, Double])], gcS: Double,
              shape: Map[String, Double]): Result = {
    val ops = w.ops.sortBy(_.t0).toIndexedSeq
    val starts = ops.map(_.t0).toArray
    def owner(t: Double): Option[OpRec] = {
      val i = java.util.Arrays.binarySearch(starts, t + Tol) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= ops(i).t1 + Tol) Some(ops(i)) else None
    }
    val jobs = SparkProbe.jobRecs
    val jobsOf = jobs.flatMap(j => owner(j.start).map(_.req -> j)).groupMap(_._1)(_._2)
    val plansOf = SparkProbe.plans.asScala.toSeq.flatMap(p => owner(p.start).map(_.req -> p)).groupMap(_._1)(_._2)
    val spans = Tracer.spans.asScala.toSeq
    val spansOf = spans.groupBy(_.req)
    def named(req: Long, name: String): Seq[Span] = spansOf.getOrElse(req, Nil).filter(_.name == name)
    def perOp(kinds: Seq[String])(f: OpRec => Double): Double = Stats.mean(w.ofKind(kinds: _*).map(f))
    def jobsIn(req: Long, s: Span): Seq[JobRec] =
      jobsOf.getOrElse(req, Nil).filter(j => j.start >= s.start - Tol && j.start <= s.end + Tol)

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    // wire: server time per request from the server's own /metrics
    def serverS(method: String): Double = scrapes.map { case (a, b) =>
      val (s0, c0) = RpcClient.methodSeconds(a, method)
      val (s1, c1) = RpcClient.methodSeconds(b, method)
      if (c1 > c0) (s1 - s0) / (c1 - c0) else 0.0
    }.getOrElse(0.0)
    m("wire.server_s.query") = serverS("DataService.Query")
    val http = perOp(QueryKinds)(o => named(o.req, "wire.http").map(_.dur).sum / 1e3)
    m("wire.overhead_s.query") = if (w.ofKind(QueryKinds: _*).isEmpty) 0.0 else http - m("wire.server_s.query")
    Seq("lastn", "range", "candle").foreach(k => m(s"wire.resp_bytes.$k") = perOp(Seq(k))(_.bytes.toDouble))
    m("wire.client_decode_s.range") = perOp(Seq("range"))(o => named(o.req, "wire.client_decode").map(_.dur).sum / 1e3)
    m("wire.server_s.write") = serverS("DataService.Write")
    m("wire.write_csm_s") = scrapes.map { case (a, b) =>
      val (s0, c0) = RpcClient.writeCsmSeconds(a); val (s1, c1) = RpcClient.writeCsmSeconds(b)
      if (c1 > c0) (s1 - s0) / (c1 - c0) else 0.0
    }.getOrElse(0.0)
    m("wire.server_s.ops") = serverS("OpsService.Run")
    // catalog, read side
    m("catalog.resolve_s.per_query") = perOp(QueryKinds)(o => named(o.req, "catalog.resolve").map(_.dur).sum / 1e3)
    m("catalog.resolve_calls.per_query") = perOp(QueryKinds)(o => named(o.req, "catalog.resolve").size.toDouble)
    Seq("list", "status", "open").foreach { k =>
      m(s"catalog.fs_ops.$k.per_query") =
        perOp(QueryKinds)(o => named(o.req, s"op.${o.kind}").map(_.attrs.getOrElse(s"fs.$k", 0.0)).sum)
    }
    // catalog, commit side
    val commits = spans.filter(_.name == "catalog.commit")
    val commitJobs = commits.flatMap(c => jobsIn(c.req, c))
    m("catalog.commit_s") = Stats.mean(commits.map(_.dur / 1e3))
    m("catalog.commits.per_batch") = perOp(Seq("batch"))(o => named(o.req, "catalog.commit").size.toDouble)
    CountingFs.Kinds.foreach(k =>
      m(s"catalog.fs_ops.$k.per_commit") = Stats.mean(commits.map(_.attrs.getOrElse(s"fs.$k", 0.0))))
    m("catalog.publishes.per_commit") = Stats.mean(commits.map(_.attrs.getOrElse("publishes", 0.0)))
    m("catalog.manifest_bytes.per_commit") = Stats.mean(commits.map(_.attrs.getOrElse("manifest_bytes", 0.0)))
    m("catalog.commit_input_bytes") =
      if (commits.isEmpty) 0.0 else commitJobs.map(_.inputBytes).sum.toDouble / commits.size
    val logical = w.ofKind("batch").size * BatchLogicalBytes + w.ofKind("write_one").size * WriteLogicalBytes
    m("catalog.write_amp") = if (logical > 0) commitJobs.map(_.outputBytes).sum / logical else 0.0
    Seq("catalog.live_files", "catalog.max_files_per_partition", "catalog.space_amp")
      .foreach(k => m(k) = shape.getOrElse(k, 0.0))
    // streaming: per batch, the base commit, then the cascade (recompute + destination commit)
    def batchCommits(o: OpRec) = named(o.req, "catalog.commit").sortBy(_.start)
    m("streaming.base_commit_s") = perOp(Seq("batch"))(o => batchCommits(o).headOption.map(_.dur / 1e3).getOrElse(0.0))
    m("streaming.cascade_s") = perOp(Seq("batch"))(o =>
      batchCommits(o).headOption.map(b => (o.t1 - b.end) / 1e3).getOrElse(0.0))
    m("streaming.recompute_rows") = perOp(Seq("batch"))(o =>
      batchCommits(o).drop(1).flatMap(c => jobsIn(o.req, c)).map(_.inputRecords).sum.toDouble)
    // Spark, per operation kind
    def sparkPer(kinds: Seq[String])(f: JobRec => Double): Double =
      perOp(kinds)(o => jobsOf.getOrElse(o.req, Nil).map(f).sum)
    SparkOps.foreach { op =>
      m(s"spark.jobs.$op") = sparkPer(Seq(op))(_ => 1.0)
      m(s"spark.tasks.$op") = sparkPer(Seq(op))(_.tasks.toDouble)
      m(s"spark.exec_cpu_s.$op") = sparkPer(Seq(op))(_.cpuS)
      m(s"spark.sched_wait_s.$op") = sparkPer(Seq(op))(_.schedWaitS)
      m(s"spark.input_bytes.$op") = sparkPer(Seq(op))(_.inputBytes.toDouble)
      m(s"spark.shuffle_bytes.$op") = sparkPer(Seq(op))(_.shuffleBytes.toDouble)
      m(s"spark.plan_s.$op") = perOp(Seq(op))(o => plansOf.getOrElse(o.req, Nil).map(_.planS).sum)
    }
    m("spark.gc_s") = if (ops.isEmpty) 0.0 else gcS / ops.size
    m("spark.failed_tasks") = jobs.map(_.failedTasks).sum.toDouble
    Bench.OpsJobOrder.foreach { j =>
      m(s"ops.job_s.$j") = perOp(Seq(j))(_.lat)
      m(s"ops.exec_cpu_s.$j") = sparkPer(Seq(j))(_.cpuS)
      m(s"ops.shuffle_bytes.$j") = sparkPer(Seq(j))(_.shuffleBytes.toDouble)
      m(s"ops.spark_jobs.$j") = sparkPer(Seq(j))(_ => 1.0)
    }
    // tracing: overhead against the untraced serialised window, and how
    // much of each operation's wall time the span tree accounts for
    val tracedP50 = Stats.median(w.ofKind(mainKinds: _*).map(_.lat))
    val plainP50 = plain.map(p => Stats.median(p.ofKind(mainKinds: _*).map(_.lat))).getOrElse(Double.NaN)
    m("trace.overhead_frac") = if (plainP50 > 0) tracedP50 / plainP50 - 1 else 0.0
    // Spark jobs and planning phases join the span trees under negative ids
    def extra(o: OpRec): Seq[Span] =
      jobsOf.getOrElse(o.req, Nil).map(j => Span(-1L - j.id, "spark.job", o.req, j.start, j.end)) ++
        plansOf.getOrElse(o.req, Nil).zipWithIndex.map { case (p, i) =>
          Span(-1000000L * o.req - i, "spark.plan", o.req, p.start, p.end)
        }
    val trees = ops.map(o => o -> tree(spansOf.getOrElse(o.req, Nil) ++ extra(o)))
    val byKind = trees.groupBy(_._1.kind)
    val selfS = byKind.map { case (k, ts) =>
      k -> ts.flatMap(_._2).groupMapReduce(_.span.name)(_.selfMs)(_ + _).map { case (n, v) => n -> v / ts.size / 1e3 }
    }
    // Coverage: the share of each operation's wall time inside some probe
    // span, 1 - root self / root wall. The client's `wire.http` span is left
    // out, since it encloses all server work: server time that no
    // server-side probe covers, and loopback transport, count as uncovered.
    val probed = ops.map(o => o -> tree(spansOf.getOrElse(o.req, Nil).filter(_.name != "wire.http") ++ extra(o)))
    def rootSelf(t: (OpRec, Seq[Node])): Double = t._2.filter(_.parent.isEmpty).map(_.selfMs).sum
    def cover(ts: Seq[(OpRec, Seq[Node])]): Double = {
      val wall = ts.map(t => t._1.t1 - t._1.t0).sum
      if (wall > 0) 1 - ts.map(rootSelf).sum / wall else 0.0
    }
    val coverage = probed.groupBy(_._1.kind).map { case (k, ts) => k -> cover(ts) }
    m("trace.span_coverage") = cover(probed)
    Result(m.toMap, selfS, coverage, trees.flatMap(_._2))
  }

  /** The span tree of one operation: each span's parent is the smallest
    * span enclosing it, and its self time is its duration minus the
    * union of its children.
    */
  def tree(spans: Seq[Span]): Seq[Node] = {
    val s = spans.sortBy(x => (x.start, -x.dur)).toIndexedSeq
    val parent = s.indices.map { i =>
      s.indices.filter(j => j != i && s(j).start <= s(i).start + Tol && s(j).end >= s(i).end - Tol &&
          (s(j).dur > s(i).dur || (s(j).dur == s(i).dur && j < i)))
        .minByOption(j => s(j).dur)
    }
    s.indices.map { i =>
      val kids = s.indices.filter(j => parent(j).contains(i))
        .map(j => (math.max(s(j).start, s(i).start), math.min(s(j).end, s(i).end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      kids.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) { if (!curS.isNaN) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      Node(s(i), parent(i).map(s(_).id), math.max(0.0, s(i).dur - covered))
    }
  }
}
