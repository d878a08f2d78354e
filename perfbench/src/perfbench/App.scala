package perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Entry point: `perfbench.App --workload W --seed N --seconds S --trace 0|1
  * --work DIR --record FILE`, or `--selftest N` for the generator's own test.
  * Prints one summary line and, last, the result JSON line.
  */
object App {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opt.get("selftest") match {
      case Some(seed) =>
        val fails = Gen.selfTest(seed.toLong)
        fails.foreach(f => System.err.println(s"[perfbench] selftest: $f"))
        println(s"[perfbench] generator selftest seed=$seed: ${if (fails.isEmpty) "ok" else "FAILED"}")
        sys.exit(if (fails.isEmpty) 0 else 1)
      case None =>
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val recordPath = opt("record")

    if (traced) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.create(s"local[$nproc]")
    spark.sparkContext.setLogLevel("ERROR")
    SparkProbe.install(spark)
    try {
      val bench = new Bench(spark, workload, seed, seconds, traced, work, nproc)
      val out = bench.run()
      val failedOps = bench.failedOps()
      val endFails = out.checks.flatten
      val attempted = bench.allOps.size + out.checks.size
      val failed = failedOps.size + endFails.size
      val rss = vmHwmMb()
      val w = out.window
      // units of work per second: passes over the jobs, or queries
      val opsJobs = workload == "ops_jobs"
      val opsPerS =
        if (opsJobs) bench.throughput(w) / Bench.OpsJobOrder.size else bench.throughput(w, Bench.QueryKinds: _*)
      val e2e = Seq("setup_s" -> (Stats.median(out.setup), "s"), "ops_per_s" -> (opsPerS, "1/s"),
        "rss_peak_mb" -> (rss, "MB"))
      val mainKinds = if (opsJobs) Bench.OpsJobOrder else Bench.QueryKinds
      val layers = if (traced) Some(Layers.compute(w, out.plain, mainKinds, bench.traceScrapes,
        bench.traceGcS, out.shape)) else None
      val metrics: Seq[(String, (Double, String))] = layers match {
        case Some(l) => Layers.Metrics.map { case (n, u) => n -> (l.metrics(n), u) }
        case None => e2e
      }
      val record = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> nproc, "setup_s" -> out.setup, "phases_s" -> bench.phases, "end_to_end" -> e2e.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "named" -> (out.named ++ Map("setup_s" -> Map("value" -> Stats.median(out.setup), "n" -> out.setup.size),
          "rss_peak_mb" -> rss, "failed_frac" -> failed.toDouble / attempted)),
        "attempted" -> attempted, "failed" -> failed,
        "failures" -> (failedOps.values.toSeq.sorted.take(50) ++ endFails),
        "ops" -> w.ops.groupBy(_.kind).map { case (k, os) => k -> Map("n" -> os.size,
          "p50_s" -> Stats.median(os.map(_.lat)), "errors" -> os.count(_.err.nonEmpty)) },
        "per_layer" -> layers.map(_.metrics).getOrElse(Map.empty),
        "trace_self_s" -> layers.map(_.selfS).getOrElse(Map.empty),
        "trace_coverage" -> layers.map(_.coverage).getOrElse(Map.empty),
        "spans" -> layers.map(_.nodes.map(n => Map("id" -> n.span.id, "parent" -> n.parent,
          "name" -> n.span.name, "req" -> n.span.req, "start_ms" -> n.span.start, "end_ms" -> n.span.end,
          "self_ms" -> n.selfMs, "attrs" -> n.span.attrs))).getOrElse(Nil))
      val f = new java.io.File(recordPath)
      f.getParentFile.mkdirs()
      Json.writeValue(f, record)

      (failedOps.values.toSeq.sorted.take(5) ++ endFails).foreach(m => System.err.println(s"[perfbench] FAILED $m"))
      println(summary(workload, seed, traced, out, failed, attempted, rss, recordPath))
      println(Json.writeValueAsString(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    } finally spark.stop()
  }

  /** JSON with every non-finite number written as null. */
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
        override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** One compact line: every named metric of the workload with its sample count. */
  private def summary(workload: String, seed: Long, traced: Boolean, out: Bench#Outcome,
                      failed: Int, attempted: Int, rss: Double, record: String): String = {
    def fmt(v: Any): String = v match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        f"${mm("value").asInstanceOf[Double]}%.4g(n=${mm("n")})"
      case d: Double => f"$d%.4g"
      case x => x.toString
    }
    val named = out.named.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${fmt(v)}" }.mkString(" ")
    f"[perfbench] $workload seed=$seed trace=${if (traced) 1 else 0} " +
      f"setup_s=${Stats.median(out.setup)}%.4g(n=${out.setup.size}) $named rss_peak_mb=$rss%.1f " +
      s"failed=$failed/$attempted record=$record"
  }
}
