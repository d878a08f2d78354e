package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.catalog.BucketCatalog
import graft.core.TimeBucketKey
import scala.jdk.CollectionConverters._

/** A timed interval at a module boundary. Times are wall-clock
  * milliseconds (fractional), the clock Spark's listener events use.
  * `req` is the operation it belongs to; `parent` is assigned when the
  * trace is assembled (smallest enclosing span of the same operation).
  */
final case class Span(id: Long, name: String, req: Long, start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span and counter store of the traced run. Operations are
  * serialised while tracing, so one `current` operation owns whatever
  * starts inside its window: Spark jobs by submission time, file-system
  * calls by when they happen.
  */
object Tracer {
  @volatile var on = false
  @volatile var current: Long = 0L
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  def record(name: String, req: Long, start: Double, end: Double,
             attrs: Map[String, Double] = Map.empty): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, req, start, end, attrs))

  /** Time `body` as a span of the current operation, with the file-system
    * operations it caused as attributes.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val req = current
      val fs0 = CountingFs.snapshot()
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        val d = CountingFs.diff(fs0, CountingFs.snapshot())
        record(name, req, t0, t1, d.map { case (k, v) => s"fs.$k" -> v.toDouble })
      }
    }

  def reset(): Unit = { spans.clear(); CountingFs.reset(); SparkProbe.reset() }
}

/** The local file system with a count of each metadata and data call by
  * kind, installed through `spark.hadoop.fs.file.impl` in the traced run.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = { bump("list"); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { bump("status"); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { bump("open"); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = { bump("delete"); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { bump("mkdirs"); super.mkdirs(f, permission) }
}

object CountingFs {
  val Kinds: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val counts = Kinds.map(k => k -> new AtomicLong(0L)).toMap

  private def bump(kind: String): Unit = if (Tracer.on) counts(kind).incrementAndGet()

  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }
  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    Kinds.map(k => k -> (b(k) - a(k))).toMap
  def reset(): Unit = counts.values.foreach(_.set(0L))
}

/** The catalog handed to the server and the cascade: every read-side
  * resolve and every commit is a span. The spans cost nothing when
  * tracing is off.
  */
class TracedCatalog(spark: SparkSession, root: String) extends BucketCatalog(spark, root) {
  private val seen = scala.collection.mutable.Set[String]()

  /** Files published under `dir` since the last call, listed with
    * java.io so the listing itself is not counted.
    */
  private def fresh(dir: String): Seq[java.io.File] = seen.synchronized {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
    val out = files.filterNot(f => seen(f.getPath))
    seen ++= out.map(_.getPath)
    out
  }

  /** Manifest versions and commit-log records published since the last
    * call, and the manifests' bytes. On a local root both are published
    * by a java.nio move, which `CountingFs` never sees.
    */
  private def published(attGroup: String): (Int, Long) = {
    val m = fresh(s"$root/$attGroup/${BucketCatalog.ManifestDir}")
    val c = fresh(s"$root/${BucketCatalog.CommitLog}")
    (m.size + c.size, m.map(_.length).sum)
  }

  override def writeMultiTf(attGroup: String, df: DataFrame): Unit = {
    if (Tracer.on) published(attGroup)
    val req = Tracer.current
    val t0 = Tracer.nowMs
    val fs0 = CountingFs.snapshot()
    try super.writeMultiTf(attGroup, df)
    finally if (Tracer.on) {
      val t1 = Tracer.nowMs
      val d = CountingFs.diff(fs0, CountingFs.snapshot())
      val (n, bytes) = published(attGroup)
      Tracer.record("catalog.commit", req, t0, t1,
        d.map { case (k, v) => s"fs.$k" -> v.toDouble } ++
          Map("publishes" -> n.toDouble, "manifest_bytes" -> bytes.toDouble))
    }
  }
  override def readMulti(attGroup: String, timeframe: String): DataFrame =
    Tracer.span("catalog.resolve")(super.readMulti(attGroup, timeframe))
  override def readMulti(attGroup: String, timeframe: String, symbols: Seq[String]): DataFrame =
    Tracer.span("catalog.resolve")(super.readMulti(attGroup, timeframe, symbols))
  override def read(tbk: TimeBucketKey): DataFrame =
    Tracer.span("catalog.resolve")(super.read(tbk))
  override def listSymbols(attGroup: String): Seq[String] =
    Tracer.span("catalog.resolve")(super.listSymbols(attGroup))
  override def listTimeframesBySymbol(attGroup: String): Map[String, Set[String]] =
    Tracer.span("catalog.resolve")(super.listTimeframesBySymbol(attGroup))
}

/** Spark job, task and planning records, kept per job so they can be
  * attributed to operations by submission time once the run ends.
  */
final case class JobRec(id: Int, start: Double, var end: Double,
                        var tasks: Long = 0L, var failedTasks: Long = 0L,
                        var cpuS: Double = 0.0, var schedWaitS: Double = 0.0,
                        var inputBytes: Long = 0L, var inputRecords: Long = 0L,
                        var shuffleBytes: Long = 0L, var outputBytes: Long = 0L)

final case class PlanRec(start: Double, end: Double, planS: Double)

object SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def reset(): Unit = { jobs.clear(); stageJob.clear(); stageSubmit.clear(); plans.clear() }
  def jobRecs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.on) {
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          j.schedWaitS += math.max(0L, e.taskInfo.launchTime - s) / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          j.cpuS += m.executorCpuTime / 1e9
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (Tracer.on) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add(PlanRec(phases.map(_.startTimeMs).min.toDouble, phases.map(_.endTimeMs).max.toDouble,
        phases.map(_.durationMs).sum / 1e3))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
