package perfbench

/** Expected outputs, computed from the generator alone (never from the
  * engine), and the comparisons the benchmark runs on every response.
  */
object Checks {
  type Rows = Seq[Seq[Double]]

  def ohlcv(b: Bar): Seq[Double] = Seq(b.epoch.toDouble, b.open, b.high, b.low, b.close, b.volume)

  /** Tumbling candles of `width` seconds, aligned to the epoch (UTC). */
  def candles(bars: Seq[Bar], width: Long): Seq[Bar] =
    bars.groupBy(b => b.epoch - Math.floorMod(b.epoch, width)).toSeq.sortBy(_._1).map { case (t, bs) =>
      val s = bs.sortBy(_.epoch)
      Bar(s.head.sym, t, s.head.open, s.map(_.high).max, s.map(_.low).min, s.last.close, s.map(_.volume).sum)
    }

  /** Frame rows of one TBK group, the named columns as doubles. */
  def rowsOf(f: Frame, key: String, cols: Seq[String]): Option[Rows] =
    f.groups.find(_._1 == key).map { case (_, rs) =>
      val idx = cols.map(f.col)
      rs.map(r => idx.map(i => r.get(i) match {
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case d: Double => d
        case x => throw new IllegalStateException(s"unexpected value $x")
      }))
    }

  def same(what: String, got: Option[Rows], want: Rows): Option[String] = got match {
    case None => Some(s"$what: missing")
    case Some(g) if g != want =>
      val i = g.zip(want).indexWhere { case (x, y) => x != y }
      Some(s"$what: got ${g.size} rows, want ${want.size}; first difference at row $i: " +
        s"got ${g.lift(i)}, want ${want.lift(i)}")
    case _ => None
  }

  /** Bars of the preload and every feed version, for query checks. */
  final class Model(preload: Seq[Bar], feed: Seq[Seq[Bar]]) {
    val preloadBy: Map[String, IndexedSeq[Bar]] =
      preload.groupBy(_.sym).map { case (s, bs) => s -> bs.sortBy(_.epoch).toIndexedSeq }
    private val preloadEnd = preload.map(_.epoch).max
    /** Every version of each key, oldest first: feed batch i's bars are
      * version `feedVersion(i)` of their minute (preload and feed minutes
      * are disjoint).
      */
    val versions: Map[(String, Long), Seq[Bar]] =
      (preload ++ feed.flatten).groupBy(b => (b.sym, b.epoch))
    val feedVersion: IndexedSeq[Int] =
      feed.indices.map(i => feed.take(i).count(_.head.epoch == feed(i).head.epoch))

    /** The check of a static (preload-only) query response. */
    def check(q: Req, f: Frame): Option[String] = {
      val OhlcvCols = Seq("Epoch", "Open", "High", "Low", "Close", "Volume")
      def inRange(s: String) = preloadBy(s).filter(b => b.epoch >= q.lo && b.epoch < q.hi)
      q.kind match {
        case "range" =>
          val s = q.syms.head
          same("range", rowsOf(f, s"$s/1Min/${Gen.Group}", Seq("Epoch", "Open", "Close")),
            inRange(s).map(b => Seq(b.epoch.toDouble, b.open, b.close)))
        case "sql" =>
          // no ORDER BY in the statement, so row order is unspecified
          same("sql", f.groups.headOption.flatMap(g => rowsOf(f, g._1, Seq("Epoch", "Close")).map(_.sortBy(_.head))),
            inRange(q.syms.head).map(b => Seq(b.epoch.toDouble, b.close)))
        case "candle" =>
          q.syms.iterator.flatMap { s =>
            same(s"candle $s", rowsOf(f, s"$s/1Min/${Gen.Group}",
              Seq("Epoch", "Open", "High", "Low", "Close", "Volume_SUM")),
              candles(inRange(s), 3600L).map(ohlcv))
          }.toSeq.headOption
        case "dest" =>
          val s = q.syms.head
          same("dest", rowsOf(f, s"$s/5Min/${Gen.Group}", OhlcvCols),
            candles(inRange(s), 300L).takeRight(12).map(ohlcv))
        case "lastn" =>
          q.syms.iterator.flatMap { s =>
            same(s"lastn $s", rowsOf(f, s"$s/1Min/${Gen.Group}", OhlcvCols), Seq(ohlcv(preloadBy(s).last)))
          }.toSeq.headOption
      }
    }

    /** lastn while the feed runs. `acked` maps each fed minute to its
      * newest version acknowledged before the request, `started` to its
      * newest version started before the response. Each symbol's one bar
      * must lie in a minute between the newest acknowledged and the newest
      * started one, and be a version of that minute between those two.
      */
    def checkLive(q: Req, f: Frame, acked: Map[Long, Int], started: Map[Long, Int]): Option[String] = {
      val lo = (acked.keys ++ Seq(preloadEnd)).max
      val hi = (started.keys ++ Seq(preloadEnd)).max
      q.syms.iterator.flatMap { s =>
        rowsOf(f, s"$s/1Min/${Gen.Group}", Seq("Epoch", "Open", "High", "Low", "Close", "Volume")) match {
          case Some(Seq(row)) =>
            val e = row.head.toLong
            val v = versions.getOrElse((s, e), Nil).indexWhere(b => ohlcv(b) == row)
            val (vLo, vHi) = (acked.getOrElse(e, 0), started.getOrElse(e, 0))
            if (e < lo || e > hi) Some(s"lastn $s: epoch $e outside [$lo, $hi]")
            else if (v < 0) Some(s"lastn $s: bar at $e matches no generated version")
            else if (v < vLo || v > vHi) Some(s"lastn $s: version $v of $e, want $vLo to $vHi")
            else None
          case other => Some(s"lastn $s: expected one row, got $other")
        }
      }.toSeq.headOption
    }
  }

  // ------------------------------------------------------------------ ops

  private def toks(t: String): Array[String] = t.trim.toLowerCase.split(" ", -1)
  def shingles(t: String, n: Int = 3): Set[String] = {
    val ts = toks(t)
    if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSet else Set(ts.mkString(" "))
  }
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble; i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Exact answers of every ops job on the generated corpus. */
  final class OpsExpect(o: OpsData) {
    val MinhashThreshold = 0.8
    val SemanticThreshold = 0.95
    val K = 10

    /** doc id → smallest id sharing its normalized text. */
    val canonical: Map[Long, Long] = {
      val byText = o.docs.groupBy(d => d.text.trim.toLowerCase)
      byText.values.flatMap { g => val c = g.map(_.id).min; g.map(_.id -> c) }.toMap
    }
    val distinctTexts: Int = canonical.values.toSet.size

    /** Unordered (lo, hi) id pairs with jaccard ≥ threshold and ≥ 1 batch
      * side. Only pairs sharing a shingle can qualify, so candidates come
      * from a shingle → docs index.
      */
    val minhashPairs: Set[(Long, Long)] = {
      val sh = o.docs.map(d => d.id -> shingles(d.text)).toMap
      val byShingle = sh.toSeq.flatMap { case (d, ss) => ss.map(_ -> d) }.groupMap(_._1)(_._2)
      o.batchIds.toSeq.flatMap { b =>
        sh(b).iterator.flatMap(byShingle).toSet
          .filter(_ != b)
          .flatMap { d =>
            val (x, y) = (sh(b), sh(d))
            val shared = (x intersect y).size
            if (shared.toDouble / (x.size + y.size - shared) >= MinhashThreshold)
              Some((math.min(b, d), math.max(b, d)))
            else None
          }
      }.toSet
    }

    val semanticPairs: Set[(Long, Long)] = {
      val v = o.vecs
      (for { i <- v.indices.iterator; j <- (i + 1 until v.size).iterator
             if cos(v(i)._2, v(j)._2) >= SemanticThreshold } yield (v(i)._1, v(j)._1)).toSet
    }

    /** query id → exact top-K vec ids, the query's own id excluded (the engine's self-hit rule). */
    val topK: Map[Long, Set[Long]] = {
      val byId = o.vecs.toMap
      o.queryIds.map { q =>
        q -> o.vecs.filter(_._1 != q).map { case (i, e) => (i, cos(byId(q), e)) }
          .sortBy { case (i, s) => (-s, i) }.take(K).map(_._1).toSet
      }.toMap
    }

    /** doc id → (distinct 3-grams, 3-grams shared with the eval set), contaminated docs only. */
    val contamination: Map[Long, (Int, Int)] = {
      val evalGrams = o.evalDocs.flatMap(d => shingles(d.text)).toSet
      o.docs.flatMap { d =>
        val g = shingles(d.text)
        val hits = g.count(evalGrams)
        if (hits > 0) Some(d.id -> (g.size, hits)) else None
      }.toMap
    }

    /** source → (docs, distinct normalized texts, tokens). */
    val report: Map[String, (Long, Long, Long)] =
      o.docs.groupBy(_.source).map { case (s, ds) =>
        s -> (ds.size.toLong, ds.map(_.text.trim.toLowerCase).distinct.size.toLong,
          ds.map(d => toks(d.text).length.toLong).sum)
      }

    private def num(x: Any): Double = x match {
      case l: Long => l.toDouble; case i: Int => i.toDouble; case d: Double => d
      case f: Float => f.toDouble; case s: String => s.toDouble
      case other => throw new IllegalStateException(s"not a number: $other")
    }
    private def lng(x: Any): Long = num(x).toLong

    /** Check one job's inline response (`columns` + `rows`). */
    def check(job: String, res: Map[Any, Any]): Option[String] = {
      val cols = res("columns").asInstanceOf[Seq[Any]].map(_.toString)
      val rows = res("rows").asInstanceOf[Seq[Seq[Any]]]
      if (res.get("truncated").contains(true)) return Some(s"$job: truncated response")
      def c(r: Seq[Any], name: String): Any = r(cols.indexOf(name))
      def pairs = rows.map(r => { val a = lng(c(r, "id1")); val b = lng(c(r, "id2")); (math.min(a, b), math.max(a, b)) })
      def hits: Map[Long, Seq[Long]] = rows.groupBy(r => lng(c(r, "query_id")))
        .map { case (q, rs) => q -> rs.map(r => lng(c(r, "vec_id"))) }
      job match {
        case "dedup_exact" =>
          val got = rows.map(r => lng(c(r, "doc_id")) -> lng(c(r, "canonical_id"))).toMap
          if (got != canonical) Some(s"dedup_exact: ${got.size} docs, ${got.values.toSet.size} groups; " +
            s"want ${canonical.size} docs, $distinctTexts groups")
          else None
        case "dedup_minhash_delta" =>
          val got = pairs.toSet
          if (got != minhashPairs) Some(s"dedup_minhash_delta: ${got.size} pairs, want ${minhashPairs.size}; " +
            s"extra ${(got -- minhashPairs).take(3)}, missing ${(minhashPairs -- got).take(3)}")
          else None
        case "dedup_semantic" =>
          val got = pairs.toSet
          if (got != semanticPairs) Some(s"dedup_semantic: ${got.size} pairs, want ${semanticPairs.size}")
          else None
        case "knn" | "knn_ivf" =>
          val got = hits.map { case (q, ids) => q -> ids.toSet }
          if (got != topK) Some(s"$job: top-$K differs from the exact top-$K for " +
            s"${topK.count { case (q, ids) => !got.get(q).contains(ids) }} of ${topK.size} queries")
          else None
        case "knn_pq" =>
          val got = hits
          val bad = o.queryIds.filterNot(q => got.get(q).exists(ids =>
            ids.size == K && ids.distinct.size == K && ids.forall(i => i >= 0 && i < o.vecs.size)))
          if (got.keySet != o.queryIds.toSet || bad.nonEmpty) Some(s"knn_pq: malformed hits for ${bad.size} queries")
          else None
        case "text_decontaminate" =>
          val got = rows.map(r => lng(c(r, "doc_id")) -> (lng(c(r, "train_grams")).toInt, lng(c(r, "hit_grams")).toInt)).toMap
          if (got != contamination) Some(s"text_decontaminate: ${got.size} docs flagged, want ${contamination.size}")
          else None
        case "report_card" =>
          val got = rows.map(r => c(r, "source").toString ->
            (lng(c(r, "n_docs")), lng(c(r, "n_distinct_texts")), lng(c(r, "total_tokens")))).toMap
          if (got != report) Some(s"report_card: $got != $report") else None
      }
    }

    /** Recall@K of knn_pq against the exact top-K (recorded, not gated). */
    def pqRecall(res: Map[Any, Any]): Double = {
      val cols = res("columns").asInstanceOf[Seq[Any]].map(_.toString)
      val rows = res("rows").asInstanceOf[Seq[Seq[Any]]]
      val got = rows.groupBy(r => lng(r(cols.indexOf("query_id"))))
        .map { case (q, rs) => q -> rs.map(r => lng(r(cols.indexOf("vec_id")))).toSet }
      topK.map { case (q, ids) => (got.getOrElse(q, Set.empty) intersect ids).size }.sum.toDouble /
        (topK.size * K)
    }
  }
}
