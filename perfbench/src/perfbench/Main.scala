package perfbench

import graft.catalog.{BucketCatalog, Integrity}
import graft.functions.Candler
import graft.core.CandleDuration
import graft.ops.Similarity
import graft.streaming.DownsampleCascade
import graft.wire.{NumpyCodec, RpcServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One completed operation. Times are wall-clock ms (Tracer.nowMs);
  * `lat` is the latency in seconds (from the due time in open loops).
  */
final case class OpRec(kind: String, req: Long, t0: Double, t1: Double, lat: Double,
                       err: Option[String], bytes: Int = 0)

/** The operations of one measured window, which opened at `start` (ms). */
final case class Window(ops: Seq[OpRec], start: Double) {
  def ofKind(k: String*): Seq[OpRec] = ops.filter(o => k.contains(o.kind))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (NaN on no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Highest percentile with at least ten samples beyond it. */
  def tailQuantile(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9).find(q => n * (1 - q) >= 10 - 1e-9)
}

/** The benchmark of one workload. `traced` selects the per-layer run. */
final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  traced: Boolean, work: String, nproc: Int) {
  import Bench._

  private val market = new Gen.Market(seed)
  private lazy val feed = market.feedBatches(FeedBatches)
  private lazy val model = new Checks.Model(market.preload, feed)
  private val clients = math.min(2, nproc)
  private var reqSeq = 0L
  private def nextReq(): Long = synchronized { reqSeq += 1; reqSeq }

  /** Wall seconds of each phase of the run, for the record. */
  val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  private def rows(bars: Seq[Bar]): java.util.List[Row] =
    bars.map(b => Row(b.sym, b.epoch, b.open, b.high, b.low, b.close, b.volume)).asJava
  private def barsDf(bars: java.util.List[Row]): DataFrame = spark.createDataFrame(bars, BarSchema)

  // ------------------------------------------------------------ set-up

  final class Store(val root: String) {
    val catalog = new TracedCatalog(spark, root)
    val cascade = new DownsampleCascade(catalog, Gen.Group, "1Min", Destinations)
  }

  /** Bulk-load the preload through the cascade in `SetupRepeats` equal
    * consecutive time slices, timing each: set-up time is their median.
    */
  private def setupStore(): (Store, Seq[Double]) = {
    val s = new Store(s"$work/catalog")
    val span = Gen.BarsPerDay * Gen.PreloadDays * 60L
    val parts = market.preload.groupBy(b => (b.epoch - Gen.Day0) * SetupRepeats / span)
      .toSeq.sortBy(_._1).map(p => rows(p._2))
    val times = parts.map { part =>
      val t0 = System.nanoTime()
      s.cascade.ingest(barsDf(part))
      (System.nanoTime() - t0) / 1e9
    }
    (s, times)
  }

  private lazy val opsData = Gen.ops(seed)

  /** Write the ops inputs and build the IVF index, `SetupRepeats` times. */
  private def setupOps(): (String, Seq[Double]) = {
    import spark.implicits._
    val o = opsData
    val runs = (1 to SetupRepeats).map { k =>
      val dir = s"$work/ops$k"
      val t0 = System.nanoTime()
      val docs = o.docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      docs.write.parquet(s"$dir/docs")
      docs.filter(col("doc_id").isin(o.batchIds.toSeq: _*)).write.parquet(s"$dir/batch")
      docs.filter(!col("doc_id").isin(o.batchIds.toSeq: _*)).write.parquet(s"$dir/corpus")
      o.evalDocs.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(s"$dir/eval")
      o.vecs.map { case (i, e) => (i, e.toSeq) }.toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
      val vecs = spark.read.parquet(s"$dir/vecs")
      vecs.filter(col("vec_id").isin(o.queryIds: _*)).write.parquet(s"$dir/queries")
      val cents = Similarity.trainedCentroids(vecs, IvfCells, 3)
      Similarity.centroidsDF(spark, cents).write.parquet(s"$dir/cents")
      Similarity.ivfIndex(vecs, cents).write.parquet(s"$dir/idx")
      (dir, (System.nanoTime() - t0) / 1e9)
    }
    (runs.last._1, runs.map(_._2))
  }

  // ------------------------------------------------------------ operations

  /** Every operation issued, warm-up included, for the failure count. */
  val allOps = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()

  private def timed(kind: String, due: Option[Double] = None)(body: => (Option[String], Int)): OpRec = {
    val req = nextReq()
    if (traced) Tracer.current = req
    val t0 = Tracer.nowMs
    val (err, bytes) =
      try Tracer.span(s"op.$kind")(body)
      catch { case e: Exception => (Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"), 0) }
    val t1 = Tracer.nowMs
    val rec = OpRec(kind, req, t0, t1, (t1 - due.getOrElse(t0)) / 1e3, err, bytes)
    allOps.add(rec)
    rec
  }

  private def queryParams(q: Req): Map[String, Any] = {
    val dest = s"${q.syms.mkString(",")}/1Min/${Gen.Group}"
    q.kind match {
      case "lastn" => Map("destination" -> dest, "limit_record_count" -> 1L)
      case "range" => Map("destination" -> dest, "epoch_start" -> q.lo, "epoch_end" -> (q.hi - 1),
        "columns" -> Seq("Open", "Close"))
      case "candle" => Map("destination" -> dest, "epoch_start" -> q.lo, "epoch_end" -> (q.hi - 1),
        "functions" -> Seq("candlecandler('1H', Open, High, Low, Close, Sum::Volume)"))
      case "dest" => Map("destination" -> s"${q.syms.head}/5Min/${Gen.Group}",
        "epoch_end" -> (q.hi - 1), "limit_record_count" -> 12L)
      case "sql" => Map("is_sqlstatement" -> true, "sql_statement" ->
        s"SELECT Epoch, Close FROM `${q.syms.head}/1Min/${Gen.Group}` WHERE Epoch >= ${q.lo} AND Epoch < ${q.hi}")
    }
  }

  /** Response checks, keyed by operation, run after the window so they stay out of the timing. */
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[(Long, () => Option[String])]()

  private def runQuery(cl: RpcClient, q: Req, st: FeedState): OpRec = {
    val acked = st.acked
    var frame: Frame = null
    val rec = timed(q.kind) { val (f, n) = cl.query(queryParams(q)); frame = f; (None, n) }
    if (frame != null) {
      val f = frame
      if (q.kind == "lastn") {
        val started = st.started
        pending.add((rec.req, () => model.checkLive(q, f, acked, started).map(e => s"$e; $q")))
      } else pending.add((rec.req, () => model.check(q, f).map(e => s"$e; $q")))
    }
    rec
  }

  private val manWrites = new java.util.concurrent.ConcurrentLinkedQueue[Bar]()

  private def runWrite(cl: RpcClient, client: Int, n: Int): OpRec = {
    val b = Gen.manualBar(seed, client, n)
    val ds = NumpyCodec.encode(ManSchema,
      Seq(s"${b.sym}/1Min/${Gen.ManGroup}" -> Seq(Row(b.epoch, b.open, b.high, b.low, b.close, b.volume))))
    val rec = timed("write_one") {
      val (res, n) = cl.call("DataService.Write",
        Map("requests" -> Seq(Map("dataset" -> ds, "is_variable_length" -> false))))
      val err = res("responses").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[Any, Any]]("error").toString
      (if (err.isEmpty) None else Some(s"write_one: $err"), n)
    }
    if (rec.err.isEmpty) manWrites.add(b)
    rec
  }

  /** Feed progress seen by live-query checks: for each fed minute, the
    * newest version (see `Checks.Model.feedVersion`) whose batch was
    * acknowledged, and the newest whose batch was started.
    */
  final class FeedState {
    @volatile var acked: Map[Long, Int] = Map.empty
    @volatile var started: Map[Long, Int] = Map.empty
    @volatile var next = 0
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  }

  private def runBatch(store: Store, st: FeedState, due: Option[Double]): OpRec = {
    val i = st.next
    st.next += 1
    val bars = feed(i)
    val epoch = bars.head.epoch
    val ver = model.feedVersion(i)
    val df = barsDf(rows(bars))
    st.started = st.started.updated(epoch, ver)
    val rec = timed("batch", due) { store.cascade.ingest(df); (None, 0) }
    if (rec.err.isEmpty) {
      st.done.add(i)
      st.acked = st.acked.updated(epoch, ver)
    }
    rec
  }

  private def runOpsJob(cl: RpcClient, job: String, expect: Checks.OpsExpect): OpRec = {
    var res: Map[Any, Any] = null
    val rec = timed(job) { val (r, n) = cl.call("OpsService.Run", OpsJobs(job)); res = r; (None, n) }
    if (res != null) {
      val r = res
      pending.add((rec.req, () => expect.check(job, r)))
      if (job == "knn_pq") pqRecalls.add(expect.pqRecall(r))
    }
    rec
  }
  private val pqRecalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  // ------------------------------------------------------------ loops

  /** `n` closed-loop clients issuing until the deadline, each at least
    * `minOps` operations, and on while `extend` holds.
    */
  private def closedLoop(n: Int, secs: Double, minOps: Int = 0, extend: () => Boolean = () => false)(
      next: (Int, Int) => OpRec): Window = {
    val start = Tracer.nowMs
    val deadline = start + secs * 1e3
    val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        var i = 0
        while (Tracer.nowMs < deadline || i < minOps || extend()) { out.add(next(c, i)); i += 1 }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val ops = out.asScala.toSeq.sortBy(_.t0)
    Window(ops, start)
  }

  /** Due times of an open-loop feed: one batch every `period` seconds. */
  private def feedLoop(store: Store, st: FeedState, start: Double, secs: Double,
                       out: java.util.concurrent.ConcurrentLinkedQueue[OpRec],
                       lags: java.util.concurrent.ConcurrentLinkedQueue[Double]): Thread = {
    val t = new Thread(() => {
      var k = 0
      while (start + k * FeedPeriodS * 1e3 < start + secs * 1e3) {
        val due = start + k * FeedPeriodS * 1e3
        val wait = due - Tracer.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        lags.add(math.max(0.0, Tracer.nowMs - due) / 1e3)
        out.add(runBatch(store, st, Some(due)))
        k += 1
      }
    }, "perfbench-feed")
    t.start(); t
  }

  // ------------------------------------------------------------ workloads

  /** `window` is the measured (or, traced, the traced) window; `plain` the
    * untraced serialised window of a traced run; `checks` the end-of-run checks.
    */
  final case class Outcome(setup: Seq[Double], window: Window, plain: Option[Window],
                           named: Map[String, Any], checks: Seq[Option[String]],
                           shape: Map[String, Double])

  /** Server scrapes and process GC seconds around the traced window. */
  @volatile var traceScrapes: Option[(Map[String, Double], Map[String, Double])] = None
  @volatile var traceGcS = 0.0
  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def run(): Outcome = workload match {
    case "mixed_feed" => mixedFeed()
    case "ops_jobs" => opsJobs()
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Untraced: one window of `seconds`. Traced: the same loop serialised,
    * first with tracing off and then on, half the time each.
    */
  private def measure(cl: Option[RpcClient])(loop: (Double, Boolean) => Window): (Window, Option[Window]) =
    if (!traced) (loop(seconds, false), None)
    else {
      val plain = loop(seconds / 2, true)
      Tracer.reset(); Tracer.on = true
      val m0 = cl.map(_.scrape())
      val g0 = gcSeconds()
      val tw = loop(seconds / 2, true)
      Tracer.on = false
      traceGcS = gcSeconds() - g0
      traceScrapes = m0.map(m => (m, cl.get.scrape()))
      (tw, Some(plain))
    }

  private def mixedFeed(): Outcome = {
    val (store, setup) = phase("setup")(setupStore())
    val srv = new RpcServer(spark, store.catalog, port = 0)
    srv.start()
    try {
      val cls = (0 until clients).map(_ => new RpcClient(srv.boundPort))
      val reqs = (0 until clients).map(c => Gen.requests(seed, c, RequestsPerClient))
      val st = new FeedState
      val writes = Array.fill(clients)(0)
      // warm-up: every request kind and a wire write, a few times
      phase("warmup")((0 until WarmRounds).foreach { r =>
        QueryKinds.foreach(k => runQuery(cls(0), reqs(0).find(_.kind == k).get, st))
        runWrite(cls(0), 0, writes(0)); writes(0) += 1
      })
      val cursor = Array.fill(clients)(WarmRounds * QueryKinds.size)
      def clientOp(c: Int): OpRec = {
        val i = cursor(c); cursor(c) += 1
        if (i % WriteEvery == WriteEvery - 1) {
          val r = runWrite(cls(c), c, writes(c)); writes(c) += 1; r
        } else runQuery(cls(c), reqs(c)(i % reqs(c).size), st)
      }
      val (w, plain) = phase("window")(measure(Some(cls(0))) { (secs, serial) =>
        if (serial)
          // one thread: a feed batch, then client operations, repeated; the
          // traced half holds two batches, so both an append and a late merge
          closedLoop(1, secs, minOps = SerialPattern * (if (Tracer.on) 2 else 1)) { (_, i) =>
            if (i % SerialPattern == 0) runBatch(store, st, None) else clientOp(0)
          }
        else {
          val start = Tracer.nowMs
          val fed = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
          val lags = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
          val ft = feedLoop(store, st, start, secs, fed, lags)
          // the readers run for as long as the feed does
          val qw = closedLoop(clients, secs, extend = () => ft.isAlive)((c, _) => clientOp(c))
          ft.join()
          feedLag = lags.asScala.toSeq
          val all = (qw.ops ++ fed.asScala).sortBy(_.t0)
          Window(all, start)
        }
      })
      val qs = w.ofKind(QueryKinds: _*)
      val named = Map[String, Any](
        "queries_per_s" -> throughput(w, QueryKinds: _*),
        "query_p50_s" -> timing(qs.map(_.lat)),
        "query_tail_s" -> tail(qs.map(_.lat))) ++
        QueryKinds.map(k => s"${k}_p50_s" -> timing(w.ofKind(k).map(_.lat))) ++ Map(
        "commit_p50_s" -> timing(w.ofKind("batch").map(_.lat)),
        "feed_lag_p50_s" -> timing(feedLag),
        "wire_write_p50_s" -> timing(w.ofKind("write_one").map(_.lat)))
      val checks = phase("checks")(feedChecks(store, st, cls(0)) ++ manualChecks(store))
      Outcome(setup, w, plain, named, checks, if (traced) phase("shape")(catalogShape(store)) else Map.empty)
    } finally srv.stop()
  }
  @volatile private var feedLag: Seq[Double] = Nil

  private def opsJobs(): Outcome = {
    val (dir, setup) = phase("setup")(setupOps())
    val expect = phase("expect")(new Checks.OpsExpect(opsData))
    val store = new Store(s"$work/catalog-ops")
    val srv = new RpcServer(spark, store.catalog, port = 0, opsRoot = Some(dir))
    srv.start()
    try {
      val cl = new RpcClient(srv.boundPort)
      phase("warmup")((0 until WarmCycles).foreach(_ => OpsJobOrder.foreach(j => runOpsJob(cl, j, expect))))
      val order = OpsJobOrder
      // every window holds at least one full pass over the jobs
      val (w, plain) = phase("window")(measure(Some(cl))((secs, _) =>
        closedLoop(1, secs, minOps = order.size)((_, i) => runOpsJob(cl, order(i % order.size), expect))))
      // a cycle is one pass over the 8 jobs: the sum of each job's median
      val named = Map[String, Any](
        "ops_cycle_s" -> Map("value" -> order.map(j => Stats.median(w.ofKind(j).map(_.lat))).sum,
          "n" -> order.map(w.ofKind(_).size).min),
        "pq_recall" -> Stats.mean(pqRecalls.asScala.toSeq))
      Outcome(setup, w, plain, named, Nil, Map.empty)
    } finally srv.stop()
  }

  // ------------------------------------------------------------ checks

  private def barsOf(cat: BucketCatalog, group: String): Map[(String, Long), Bar] =
    cat.readMulti(group, "1Min")
      .select("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Bar(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap

  /** Every acknowledged bar of `group` (from `from` on) reads back at its
    * newest version, both through the serving catalog, whose caches saw
    * every commit, and through a fresh catalog on the root (a simulated restart).
    */
  private def readBack(what: String, store: Store, group: String, from: Long,
                       want: Map[(String, Long), Bar]): Seq[Option[String]] =
    Seq("serving" -> store.catalog, "restart" -> new BucketCatalog(spark, store.root)).map { case (how, cat) =>
      val got = barsOf(cat, group).filter(_._1._2 >= from)
      if (got != want) Some(s"$what $how read-back: ${got.size} bars, ${want.size} acknowledged, " +
        s"${want.count { case (k, b) => !got.get(k).contains(b) }} missing or stale")
      else None
    }

  /** After the window: every acknowledged batch reads back (`readBack`),
    * a lastn over every symbol through the server returns the newest
    * acknowledged version, the integrity check is clean, and cascade
    * destinations equal a Candler recompute over the full base.
    */
  private def feedChecks(store: Store, st: FeedState, cl: RpcClient): Seq[Option[String]] = {
    // the newest acknowledged version of every fed key
    val want = st.done.asScala.toSeq.sorted.flatMap(feed(_)).map(b => (b.sym, b.epoch) -> b).toMap
    val back = readBack("feed", store, Gen.Group, Gen.feedEpoch(0), want)
    val all = Req("lastn", Gen.Symbols, 0L, Long.MaxValue)
    val lastn = scala.util.Try(cl.query(queryParams(all))._1)
      .fold(e => Some(e.toString), f => model.checkLive(all, f, st.acked, st.acked))
      .map(e => s"final lastn over every symbol: $e")
    val integrity = Integrity.check(spark, store.root).filter(!col("ok")).count()
    val integ = if (integrity > 0) Some(s"integrity: $integrity partitions not ok") else None
    val cat = new BucketCatalog(spark, store.root)
    val rnd = new java.util.Random(seed)
    val sample = (0 until CascadeSample).map(_ => Gen.Symbols(rnd.nextInt(Gen.NSymbols))).distinct
    val base = cat.readMulti(Gen.Group, "1Min", sample)
    val cols = Seq("symbol", "Epoch", "Open", "High", "Low", "Close", "Volume")
    val cascade = Destinations.map { d =>
      val want = Candler.candle(base, CandleDuration.parse(d),
          openOf = col("Open"), closeOf = col("Close"), highOf = col("High"), lowOf = col("Low"),
          sums = Seq("Volume"), avgs = Nil, groupCols = Seq("symbol"))
        .withColumnRenamed("Volume_SUM", "Volume")
        .select(cols.map(col): _*).collect().toSet
      val have = cat.readMulti(Gen.Group, d, sample).select(cols.map(col): _*).collect().toSet
      val diff = (want -- have).size + (have -- want).size
      if (diff > 0) Some(s"cascade $d: $diff rows differ from a recompute over the base") else None
    }
    back ++ Seq(lastn, integ) ++ cascade
  }

  /** Every acknowledged wire write reads back. */
  private def manualChecks(store: Store): Seq[Option[String]] = {
    val want = manWrites.asScala.map(b => (b.sym, b.epoch) -> b).toMap
    if (want.isEmpty) Seq(Some("write_one: no acknowledged writes"))
    else readBack("write_one", store, Gen.ManGroup, Long.MinValue, want)
  }

  /** Failed operations (error or wrong response) by request id, with the reason. */
  def failedOps(): Map[Long, String] =
    allOps.asScala.flatMap(o => o.err.map(o.req -> _)).toMap ++
      pending.asScala.flatMap { case (req, f) => f().map(req -> _) }

  // ------------------------------------------------------------ shape

  /** Logical bytes of one bar: epoch + five doubles + the symbol. */
  private def logicalBytes(df: DataFrame): Double =
    df.select(sum(lit(48L) + length(col("symbol")))).first().getLong(0).toDouble

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  /** Bytes under the catalog root ÷ logical bytes of its live rows. */
  private def spaceAmp(store: Store): Double = {
    val live = (Seq("1Min") ++ Destinations).map(tf => logicalBytes(store.catalog.readMulti(Gen.Group, tf))).sum
    dirBytes(new java.io.File(store.root)) / live
  }

  private def catalogShape(store: Store): Map[String, Double] = {
    val files = store.catalog.liveFiles(Gen.Group).getOrElse(Nil)
    val perPart = files.groupBy(f => f.substring(0, f.lastIndexOf('/'))).values.map(_.size)
    Map("catalog.live_files" -> files.size.toDouble,
      "catalog.max_files_per_partition" -> perPart.maxOption.getOrElse(0).toDouble,
      "catalog.space_amp" -> spaceAmp(store))
  }

  private def timing(xs: Seq[Double]): Map[String, Any] =
    Map("value" -> Stats.median(xs), "n" -> xs.size)
  private def tail(xs: Seq[Double]): Map[String, Any] = Stats.tailQuantile(xs.size) match {
    case Some(q) => Map("value" -> Stats.quantile(xs, q), "q" -> q, "n" -> xs.size)
    case None => Map("value" -> Double.NaN, "q" -> 0.0, "n" -> xs.size)
  }
  /** Completed operations per second, from window start to the last completion. */
  def throughput(w: Window, kinds: String*): Double = {
    val ops = if (kinds.isEmpty) w.ops else w.ofKind(kinds: _*)
    if (ops.isEmpty) 0.0 else ops.size / ((ops.map(_.t1).max - w.start) / 1e3)
  }
}

object Bench {
  val Destinations = Seq("5Min", "1H", "1D")
  val SetupRepeats = 3
  val FeedBatches = 60
  val WarmRounds = 2
  val WarmCycles = 1
  val RequestsPerClient = 4000
  val WriteEvery = 20
  /** One feed batch is due every FeedPeriodS: shorter than a batch (about
    * 6 s on 4 cores), so the readers always run against a commit in flight.
    */
  val FeedPeriodS = 5.0
  /** Serialised (traced) mixed feed: one batch per this many operations. */
  val SerialPattern = 12
  val CascadeSample = 8
  val IvfCells = 8
  val QueryKinds = Seq("lastn", "range", "candle", "dest", "sql")

  val BarSchema: StructType = StructType(Seq(StructField("symbol", StringType, nullable = false),
    StructField("Epoch", LongType, nullable = false)) ++
    Seq("Open", "High", "Low", "Close", "Volume").map(StructField(_, DoubleType, nullable = false)))
  val ManSchema: StructType = StructType(BarSchema.fields.drop(1))

  val OpsJobs: Map[String, Map[String, Any]] = Map(
    "dedup_exact" -> Map("op" -> "dedup_exact", "input" -> "docs"),
    "dedup_minhash_delta" -> Map("op" -> "dedup_minhash_delta", "input" -> "batch",
      "options" -> Map("corpus" -> "corpus", "threshold" -> 0.8)),
    // n_cells 1 makes the semantic pass exact, so it can be checked against all pairs
    "dedup_semantic" -> Map("op" -> "dedup_semantic", "input" -> "vecs",
      "options" -> Map("threshold" -> 0.95, "n_cells" -> 1L, "cap" -> 0L)),
    "text_decontaminate" -> Map("op" -> "text_decontaminate", "input" -> "docs",
      "options" -> Map("eval" -> "eval")),
    "report_card" -> Map("op" -> "report_card", "input" -> "docs"),
    "knn" -> Map("op" -> "knn", "input" -> "vecs", "options" -> Map("queries" -> "queries", "k" -> 10L)),
    "knn_pq" -> Map("op" -> "knn_pq", "input" -> "vecs", "options" -> Map("queries" -> "queries", "k" -> 10L)),
    "knn_ivf" -> Map("op" -> "knn_ivf", "input" -> "queries",
      "options" -> Map("index" -> "idx", "centroids" -> "cents", "k" -> 10L)))
  val OpsJobOrder: IndexedSeq[String] = IndexedSeq("dedup_exact", "dedup_minhash_delta", "dedup_semantic",
    "text_decontaminate", "report_card", "knn", "knn_pq", "knn_ivf")
}
