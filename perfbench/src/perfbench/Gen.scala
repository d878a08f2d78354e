package perfbench

import java.util.SplittableRandom

/** One 1-minute OHLCV bar. Prices are whole cents scaled to dollars and
  * volumes are whole numbers, so every aggregate the engine computes
  * (first/last/max/min/sum) is exactly reproducible in doubles.
  */
final case class Bar(sym: String, epoch: Long, open: Double, high: Double,
                     low: Double, close: Double, volume: Double)

/** One client request of the query mix. `syms` are symbol names; `lo`
  * and `hi` bound the epoch range (`hi` exclusive).
  */
final case class Req(kind: String, syms: Seq[String], lo: Long, hi: Long)

/** Synthetic text corpus plus embeddings for the ops workload. */
final case class Doc(id: Long, text: String, source: String)

final case class OpsData(
    docs: IndexedSeq[Doc],
    batchIds: Set[Long],
    evalDocs: IndexedSeq[Doc],
    vecs: IndexedSeq[(Long, Array[Float])],
    queryIds: IndexedSeq[Long])

/** Every input of every workload, derived from the seed alone. The
  * program under test only ever sees what this object generates.
  */
object Gen {
  val NSymbols = 100
  val Symbols: IndexedSeq[String] = (0 until NSymbols).map(i => s"S$i")
  /** 2024-01-02 14:30 UTC, the first preloaded bar. */
  val Day0 = 1704205800L
  val BarsPerDay = 390
  val PreloadDays = 1
  val Group = "OHLCV"
  val ManGroup = "MAN"
  val ManSymbols: IndexedSeq[String] = (0 until 20).map(i => s"M$i")
  /** Every second feed batch re-sends the previous batch's minute with new
    * values, so the two batches a run holds exercise both the append and
    * the late-data merge path.
    */
  val LateEvery = 2
  val LateLag = 1

  def dayStart(d: Int): Long = Day0 + d * 86400L
  /** Epoch of feed minute m: the feed continues on the day after the preload. */
  def feedEpoch(m: Int): Long = dayStart(PreloadDays) + m * 60L

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 1) * 0xBF58476D1CE4E5B9L)

  private def step(r: SplittableRandom, sym: String, epoch: Long, prevCents: Long): (Bar, Long) = {
    val o = prevCents
    val c = math.max(100L, o + r.nextLong(-40L, 41L))
    val h = math.max(o, c) + r.nextLong(0L, 15L)
    val l = math.max(1L, math.min(o, c) - r.nextLong(0L, 15L))
    (Bar(sym, epoch, o / 100.0, h / 100.0, l / 100.0, c / 100.0, r.nextLong(100L, 10000L).toDouble), c)
  }

  /** Preloaded history: `PreloadDays` trading days of 1Min bars per symbol (random walk). */
  final class Market(seed: Long) {
    val preload: IndexedSeq[Bar] = {
      val out = IndexedSeq.newBuilder[Bar]
      Symbols.zipWithIndex.foreach { case (s, i) =>
        val r = rng(seed, i)
        var px = 2000L + r.nextLong(0L, 18000L)
        (0 until PreloadDays).foreach { d =>
          (0 until BarsPerDay).foreach { m =>
            val (b, c) = step(r, s, dayStart(d) + m * 60L, px)
            out += b; px = c
          }
        }
      }
      out.result()
    }
    private val lastClose: Map[String, Long] =
      preload.groupBy(_.sym).map { case (s, bs) => s -> math.round(bs.maxBy(_.epoch).close * 100) }

    /** Feed batch i: one minute of bars for every symbol. Every
      * `LateEvery`-th batch instead re-sends the minute of `LateLag`
      * batches earlier with fresh values (late data).
      */
    def feedBatches(n: Int): IndexedSeq[IndexedSeq[Bar]] = {
      val px = scala.collection.mutable.Map(lastClose.toSeq: _*)
      var minute = 0
      val minuteOf = new Array[Int](n)
      (0 until n).map { i =>
        val r = rng(seed, 100000L + i)
        if (i % LateEvery == LateEvery - 1) {
          val m = minuteOf(i - LateLag)
          minuteOf(i) = m
          Symbols.map(s => step(r, s, feedEpoch(m), math.round(px(s) * 1.01))._1)
        } else {
          val m = minute; minute += 1
          minuteOf(i) = m
          Symbols.map { s =>
            val (b, c) = step(r, s, feedEpoch(m), px(s)); px(s) = c; b
          }
        }
      }
    }
  }

  /** The query mix: lastn 40%, range 25%, candle 15%, dest 10%, sql 10%,
    * as cycles of 20 requests holding exactly those shares in a seeded
    * order, so a short window sees the stated mix.
    */
  val MixCycle: Seq[String] = Seq.fill(8)("lastn") ++ Seq.fill(5)("range") ++
    Seq.fill(3)("candle") ++ Seq.fill(2)("dest") ++ Seq.fill(2)("sql")

  def requests(seed: Long, client: Int, n: Int): IndexedSeq[Req] = {
    val r = rng(seed, 200000L + client)
    def pick(k: Int): Seq[String] = {
      val chosen = scala.collection.mutable.LinkedHashSet[String]()
      while (chosen.size < k) chosen += Symbols(r.nextInt(NSymbols))
      chosen.toSeq
    }
    val kinds = Iterator.continually {
      val c = MixCycle.toArray
      (c.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = c(i); c(i) = c(j); c(j) = t
      }
      c
    }.flatten
    (0 until n).map { _ =>
      val day = r.nextInt(PreloadDays)
      kinds.next() match {
        case "lastn" => Req("lastn", pick(10), 0L, Long.MaxValue)
        case "range" => Req("range", pick(1), dayStart(day), dayStart(day) + BarsPerDay * 60L)
        case "candle" => Req("candle", pick(5), dayStart(day) - 1800L, dayStart(day) + 86400L - 1800L)
        case "dest" => Req("dest", pick(1), 0L, dayStart(PreloadDays - 1) + BarsPerDay * 60L)
        case "sql" =>
          val h = dayStart(day) + r.nextInt(BarsPerDay / 60) * 3600L
          Req("sql", pick(1), h, h + 3600L)
      }
    }
  }

  /** A one-bar wire write for the MAN group; epochs are unique per (client, n). */
  def manualBar(seed: Long, client: Int, n: Int): Bar = {
    val r = rng(seed, 300000L + client * 1000003L + n)
    val sym = ManSymbols(r.nextInt(ManSymbols.size))
    step(r, sym, Day0 + (client * 100000L + n) * 60L, 5000L + r.nextLong(0L, 5000L))._1
  }

  private val Sources = IndexedSeq("web", "books", "code", "news")

  /** Ops corpus: 1200 docs of 60 words over a 4000-word vocabulary with
    * planted exact clones (case and whitespace variants), planted near
    * duplicates across the delta split (one word changed: jaccard ≈ 0.9;
    * four words changed: ≈ 0.66, below the 0.8 threshold), planted
    * eval-set snippets, and 2000 unit vectors of dimension 64 with 40
    * planted near-duplicate vectors.
    */
  def ops(seed: Long): OpsData = {
    val r = rng(seed, 400000L)
    val nDocs = 1200
    def word(): String = s"w${r.nextInt(4000)}"
    val evalDocs = (0 until 20).map(i =>
      Doc(900000L + i, (0 until 30).map(_ => s"ev${r.nextInt(2000)}").mkString(" "), "eval"))
    val texts = Array.fill(nDocs)((0 until 60).map(_ => word()).toArray)
    // the delta batch: 180 docs chosen by the seed
    val order = (0 until nDocs).toArray
    (nDocs - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val batch = order.take(180).toSet
    val corpusIdx = order.drop(180)
    val raw = Array.tabulate(nDocs)(i => texts(i).mkString(" "))
    // near duplicates: 30 batch docs copy a corpus doc with one word
    // changed, 15 with four words changed
    order.take(45).zipWithIndex.foreach { case (b, k) =>
      val src = texts(corpusIdx(500 + k * 7)).clone()
      val edits = if (k < 30) Seq(30) else Seq(5, 20, 35, 50)
      edits.foreach(p => src(p) = s"x${r.nextInt(1000000)}")
      raw(b) = src.mkString(" ")
    }
    // exact clones (case / surrounding whitespace variants)
    order.slice(200, 300).zipWithIndex.foreach { case (d, k) =>
      val src = raw(corpusIdx(300 + k))
      raw(d) = if (k % 2 == 0) src.toUpperCase else s"  $src "
    }
    // eval leakage: 25 docs carry an 8-word eval snippet
    val leaky = order.slice(400, 425)
    leaky.zipWithIndex.foreach { case (d, k) =>
      val ev = evalDocs(k % evalDocs.size).text.split(" ")
      val at = r.nextInt(ev.length - 8)
      val ws = raw(d).trim.split(" ")
      raw(d) = (ws.take(20) ++ ev.slice(at, at + 8) ++ ws.drop(28)).mkString(" ")
    }
    val docs = (0 until nDocs).map(i => Doc(i.toLong, raw(i), Sources(i % Sources.size)))
    val dim = 64
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val base = Array.fill(2000)(Array.fill(dim)(r.nextGaussian()))
    (0 until 40).foreach { k =>
      val src = base(1000 + k)
      base(k * 3) = src.map(x => x + 0.05 * r.nextGaussian())
    }
    val vecs = base.indices.map(i => (i.toLong, unit(base(i))))
    val queryIds = {
      val s = scala.collection.mutable.LinkedHashSet[Long]()
      while (s.size < 20) s += r.nextInt(2000).toLong
      s.toIndexedSeq
    }
    OpsData(docs, batch.map(_.toLong), evalDocs, vecs, queryIds)
  }

  /** Canonical byte image of every generated input (for the determinism check). */
  def fingerprint(seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def bar(b: Bar): Unit = {
      out.writeUTF(b.sym); out.writeLong(b.epoch)
      Seq(b.open, b.high, b.low, b.close, b.volume).foreach(out.writeDouble)
    }
    val m = new Market(seed)
    m.preload.foreach(bar)
    m.feedBatches(40).foreach(_.foreach(bar))
    (0 until 2).foreach(c => requests(seed, c, 500).foreach { q =>
      out.writeUTF(q.kind); q.syms.foreach(out.writeUTF); out.writeLong(q.lo); out.writeLong(q.hi)
    })
    (0 until 50).foreach(n => bar(manualBar(seed, 0, n)))
    val o = ops(seed)
    o.docs.foreach { d => out.writeLong(d.id); out.writeUTF(d.text); out.writeUTF(d.source) }
    o.batchIds.toSeq.sorted.foreach(out.writeLong)
    o.vecs.foreach { case (i, v) => out.writeLong(i); v.foreach(out.writeFloat) }
    o.queryIds.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  /** The generator's own test: same seed ⇒ byte-identical inputs,
    * different seed ⇒ different inputs. Returns the failures.
    */
  def selfTest(seed: Long): Seq[String] = {
    val a = fingerprint(seed)
    val b = fingerprint(seed)
    val c = fingerprint(seed + 1)
    val fails = Seq.newBuilder[String]
    if (!java.util.Arrays.equals(a, b)) fails += s"seed $seed: two generations differ"
    if (java.util.Arrays.equals(a, c)) fails += s"seeds $seed and ${seed + 1} generate identical inputs"
    val m = new Market(seed)
    val batches = m.feedBatches(LateEvery * 2)
    if (batches(LateEvery - 1).head.epoch != batches(LateEvery - 1 - LateLag).head.epoch)
      fails += "late batch does not re-send the minute of LateLag batches earlier"
    if (batches(LateEvery - 1).head == batches(LateEvery - 1 - LateLag).head)
      fails += "late batch re-sends identical values"
    fails.result()
  }
}
