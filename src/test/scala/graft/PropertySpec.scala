package graft

import graft.model.{Dp, SubQuery, TsQuery}
import graft.query.Planner
import graft.rollup.Rollup
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests promised by SURVEY §5: operator invariants that must
  * hold for ANY input, not just the fixtures — downsample results are
  * invariant under point arrival order, the rollup path is equivalent to
  * the raw path absent OOO data, and last-wins dedup depends only on the
  * max-seq row per (series, ts). Uses raw ScalaCheck generators with
  * fixed seeds (scalatest-plus bridge isn't available offline); each
  * sampled case is a full Spark job, so cases are few and meaty.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private val Cases = 6

  /** Random in-order multi-series input: strictly increasing ts per
    * series (no dups → no OOO), values in [0, 100).
    */
  private val seriesGen: Gen[Seq[Dp]] = for {
    nSeries <- Gen.choose(1, 3)
    n <- Gen.choose(1, 40)
    gaps <- Gen.listOfN(n, Gen.choose(60000L, 2 * H))
    vals <- Gen.listOfN(n, Gen.choose(0.0, 100.0))
  } yield {
    val ts = gaps.scanLeft(0L)(_ + _).tail
    (0 until nSeries).flatMap { s =>
      ts.zip(vals).zipWithIndex.map { case ((t, v), i) =>
        Dp("m", Map("host" -> s"h$s"), t, v + s, (s.toLong << 32) + i)
      }
    }
  }

  private def samples[A](g: Gen[A]): Seq[A] =
    (0 until Cases).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def runDs(points: Seq[Dp], ds: String): Map[(String, Long), Double] = {
    val end = points.map(_.ts).max + 1
    Planner
      .planSub(spark.createDataset(points).toDF(), TsQuery(0, end),
        SubQuery("m", "none", Some(ds)))
      .select("skey", "ts", "value").as[(String, Long, Double)]
      .collect().map { case (k, t, v) => (k, t) -> v }.toMap
  }

  test("downsample is invariant under point arrival order") {
    for ((points, i) <- samples(seriesGen).zipWithIndex) {
      val shuffled = new scala.util.Random(i).shuffle(points)
      for (fn <- Seq("sum", "avg", "min", "max", "count", "p50")) {
        val a = runDs(points, s"1h-$fn")
        val b = runDs(shuffled, s"1h-$fn")
        assert(a.keySet === b.keySet, s"case $i fn=$fn")
        // tolerance: fp addition order differs with partitioning
        a.foreach { case (k, v) =>
          assert(math.abs(v - b(k)) < 1e-9, s"case $i fn=$fn @$k")
        }
      }
    }
  }

  test("rollup path ≡ raw path for eligible functions on any OOO-free input") {
    for ((points, i) <- samples(seriesGen).zipWithIndex) {
      val df = spark.createDataset(points).toDF()
      val end = points.map(_.ts).max + 1
      val r1h = Rollup.rollup1h(df)
      for (fn <- Seq("avg", "sum", "min", "max", "count")) {
        val viaRollup = Rollup.downsampleFromRollup(r1h, 2 * H, fn)
          .select("skey", "ts", "value").as[(String, Long, Double)]
          .collect().map { case (k, t, v) => (k, t) -> v }.toMap
        val direct = runDs(points, s"2h-$fn")
        assert(viaRollup.keySet === direct.keySet, s"case $i fn=$fn")
        direct.foreach { case (k, v) =>
          assert(math.abs(v - viaRollup(k)) < 1e-9, s"case $i fn=$fn @$k")
        }
      }
    }
  }

  test("glob fast paths agree with the anchored-regex semantics") {
    import graft.query.TagFilters
    import org.apache.spark.sql.functions.col
    // short patterns/values: k adjacent `.*` segments backtrack
    // exponentially in the reference regex we compare against
    val patGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "*", "*", ".")).map(_.mkString))
    val valGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", ".")).map(_.mkString))
    val pats = (0 until 40).map(i => patGen.pureApply(Gen.Parameters.default, Seed(7L + i)))
    val vals = (0 until 60).map(i => valGen.pureApply(Gen.Parameters.default, Seed(99L + i)))
    // evaluate every (pattern × value) pair in ONE job: two boolean
    // columns per pattern (fast path vs anchored regex)
    val ps = pats.distinct.filter(_.nonEmpty)
    val df = spark.createDataFrame(
      vals.distinct.map(v => Tuple1(Map("k" -> v)))).toDF("tags")
    val cols = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        TagFilters.compile(col("tags"), "k", s"wildcard($p)").as(s"fast$i"),
        col("tags")("k").rlike(TagFilters.globToRegex(p)).as(s"re$i"))
    }
    val rows = df.select(col("tags")("k").as("v") +: cols: _*).collect()
    for (r <- rows; i <- ps.indices) {
      assert(r.getAs[Boolean](s"fast$i") === r.getAs[Boolean](s"re$i"),
        s"pattern '${ps(i)}' value '${r.getAs[String]("v")}'")
    }
  }

  test("simple rate telescopes: sum(rate·dt) = last − first per series") {
    for ((points, i) <- samples(seriesGen).zipWithIndex if points.nonEmpty) {
      val end = points.map(_.ts).max + 1
      val rated = Planner
        .planSub(spark.createDataset(points).toDF(), TsQuery(0, end),
          SubQuery("m", "none", rate = true))
        .select("skey", "ts", "value").as[(String, Long, Double)].collect()
      // recover dt from consecutive raw points of the same series
      val bySeries = points.groupBy(p => s"m,host=${p.tags("host")}")
      rated.groupBy(_._1).foreach { case (skey, rows) =>
        val raw = bySeries(skey).sortBy(_.ts)
        val expected = raw.last.value - raw.head.value
        val total = rows.sortBy(_._2).zip(raw.sliding(2).toSeq).map {
          case ((_, _, r), Seq(p0, p1)) => r * ((p1.ts - p0.ts) / 1000.0)
        }.sum
        assert(math.abs(total - expected) < 1e-6, s"case $i $skey")
      }
    }
  }

  test("zero fill emits the exact bucket spine with zeros only in gaps") {
    for ((points, i) <- samples(seriesGen).zipWithIndex if points.nonEmpty) {
      val end = points.map(_.ts).max + 1
      val unfilled = runDs(points, "1h-sum")
      val filled = runDs(points, "1h-sum-zero")
      val lastBucket = end - math.floorMod(end, H)
      val spine = (0L to lastBucket by H).toSet
      filled.keySet.groupBy(_._1).foreach { case (_, keys) =>
        assert(keys.map(_._2) === spine, s"case $i spine")
      }
      filled.foreach { case (k, v) =>
        // tolerance: the filled plan's extra join stage can merge fp
        // partial sums in a different order
        assert(math.abs(v - unfilled.getOrElse(k, 0.0)) < 1e-9, s"case $i @$k")
      }
    }
  }

  test("last-wins dedup: result is exactly the max-seq row per (series, ts)") {
    val dupGen = for {
      base <- seriesGen
      extra <- Gen.choose(1, 5)
    } yield {
      val maxSeq = base.map(_.seq).max
      // re-ingest some points with new values and higher seqs
      val overrides = base.take(extra).zipWithIndex.map { case (p, i) =>
        p.copy(value = p.value + 1000, seq = maxSeq + 1 + i)
      }
      (base, overrides)
    }
    for (((base, overrides), i) <- samples(dupGen).zipWithIndex) {
      val all = new scala.util.Random(i).shuffle(base ++ overrides)
      val end = base.map(_.ts).max + 1
      val res = Planner
        .planSub(spark.createDataset(all).toDF(), TsQuery(0, end),
          SubQuery("m", "none"))
        .select("skey", "ts", "value").as[(String, Long, Double)]
        .collect().map { case (k, t, v) => (k, t) -> v }.toMap
      val expect = (base ++ overrides)
        .groupBy(p => (Dp.seriesKey(p.metric, p.tags), p.ts))
        .map { case (k, ps) => k -> ps.maxBy(_.seq).value }
      assert(res === expect, s"case $i")
    }
  }

  test("repetition stats match a naive reference on any token sequence") {
    import graft.pipeline.TextAnalysis
    val docGen = for {
      n <- Gen.choose(1, 60)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "e"))
    } yield toks
    val cases = samples(Gen.listOfN(8, docGen)).flatten.zipWithIndex
    val df = cases.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df)
      .as[(Long, Double, Double, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    cases.foreach { case (toks, i) =>
      def dupFrac(xs: Seq[String]) =
        if (xs.isEmpty) 0.0 else 1.0 - xs.distinct.size.toDouble / xs.size
      val runs = toks.foldLeft(List.empty[(String, Int)]) {
        case ((t, n) :: rest, x) if t == x => (t, n + 1) :: rest
        case (acc, x) => (x, 1) :: acc
      }
      val (_, df1, df2, df3, mr) = got(i.toLong)
      assert(math.abs(df1 - dupFrac(toks)) < 1e-9, s"doc $i tokens")
      assert(math.abs(df2 - dupFrac(toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq)) < 1e-9, s"doc $i 2grams")
      assert(math.abs(df3 - dupFrac(toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq)) < 1e-9, s"doc $i 3grams")
      assert(mr === runs.map(_._2).max.toLong, s"doc $i run")
    }
  }

  test("chunking partitions exactly at stride == size; covers at stride < size") {
    import graft.pipeline.Sampling
    val docGen = for {
      n <- Gen.choose(1, 50)
      toks <- Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "d", "ee"))
    } yield toks
    val cases = samples(Gen.listOfN(6, docGen)).flatten.zipWithIndex
    val df = cases.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    // stride == size: chunks are a partition — concatenation restores the doc
    val parts = Sampling.chunkDocs(df, size = 7, stride = 7)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).mkString(" ")).toMap
    cases.foreach { case (toks, i) =>
      assert(parts(i.toLong) === toks.mkString(" "), s"doc $i partition")
    }
    // stride < size: every token index sits in ≥1 chunk, counts correct
    val over = Sampling.chunkDocs(df, size = 7, stride = 4)
      .as[(Long, Long, String, Long)].collect()
    cases.foreach { case (toks, i) =>
      val covered = over.filter(_._1 == i.toLong).flatMap { case (_, k, _, nt) =>
        (k * 4) until (k * 4 + nt)
      }.toSet
      assert(covered === toks.indices.toSet, s"doc $i coverage")
      over.filter(_._1 == i.toLong).foreach { case (_, k, c, nt) =>
        assert(c === toks.slice((k * 4).toInt, (k * 4).toInt + nt.toInt)
          .mkString(" "), s"doc $i chunk $k text")
      }
    }
  }

  test("packSequences: docs and tokens conserved for any corpus") {
    import graft.pipeline.{Sampling, TextAnalysis}
    import org.apache.spark.sql.functions.col
    val wordGen = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
    val corpusGen = for {
      n <- Gen.choose(1, 60)
      texts <- Gen.listOfN(n, Gen.choose(1, 30)
        .flatMap(k => Gen.listOfN(k, wordGen).map(_.mkString(" "))))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (corpus <- samples(corpusGen)) {
      val df = corpus.toDF("doc_id", "text")
      val packed = Sampling.packSequences(df, "doc_id", "text",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 64, nBuckets = 4)
        .select("bin", "n_docs", "n_tokens", "packed")
        .as[(String, Long, Long, String)].collect()
      assert(packed.map(_._2).sum === corpus.size) // every doc exactly once
      assert(packed.map(_._3).sum ===
        corpus.map(_._2.split(" ").length.toLong).sum) // token conservation
      // concatenation conserves the words too (bins partition the corpus)
      assert(packed.flatMap(_._4.split(" ")).sorted.toSeq ===
        corpus.flatMap(_._2.split(" ")).sorted.toSeq)
    }
  }

  test("as-of join matches a naive per-row reference on any series pair") {
    import graft.query.SeriesJoin
    // duplicate timestamps ON THE LEFT are fine (each left row matches
    // independently); right ts are distinct per key so the reference's
    // argmax is unique
    val caseGen = for {
      nl <- Gen.choose(0, 25)
      nr <- Gen.choose(0, 25)
      lks <- Gen.listOfN(nl, Gen.oneOf("a", "b", "c"))
      lts <- Gen.listOfN(nl, Gen.choose(0L, 2000L))
      rks <- Gen.listOfN(nr, Gen.oneOf("a", "b", "c"))
      rts <- Gen.listOfN(nr, Gen.choose(0L, 2000L))
      tol <- Gen.option(Gen.choose(1L, 500L))
    } yield (lks.zip(lts), rks.zip(rts).distinct.groupBy(identity).keys.toSeq, tol)
    samples(caseGen).zipWithIndex.foreach { case ((lraw, rraw, tol), ci) =>
      val l = lraw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val r = rraw.groupBy { case (k, t) => (k, t) }.keys.toSeq
        .map { case (k, t) => (k, t, (t * 31 + k.hashCode).toDouble) }
      val got = SeriesJoin.asofJoin(
        l.toDF("id", "k", "ts"), r.toDF("k", "ts", "y"), Seq("k"),
        tolerance = tol)
        .select("id", "asof_ts", "y")
        .as[(Long, Option[Long], Option[Double])].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      l.foreach { case (id, k, t) =>
        val eligible = r.filter { case (rk, rt, _) =>
          rk == k && rt <= t && tol.forall(tt => rt >= t - tt)
        }
        val expect =
          if (eligible.isEmpty) (None, None)
          else {
            val (_, bt, by) = eligible.maxBy(_._2)
            (Some(bt), Some(by))
          }
        assert(got(id) === expect, s"case $ci left=$id key=$k ts=$t tol=$tol")
      }
    }
  }

  test("interval join matches a naive cross-filter reference for any window") {
    import graft.query.SeriesJoin
    val caseGen = for {
      nl <- Gen.choose(0, 20)
      nr <- Gen.choose(0, 20)
      lks <- Gen.listOfN(nl, Gen.oneOf("a", "b"))
      lts <- Gen.listOfN(nl, Gen.choose(-500L, 1500L))
      rks <- Gen.listOfN(nr, Gen.oneOf("a", "b"))
      rts <- Gen.listOfN(nr, Gen.choose(-500L, 1500L))
      lo <- Gen.choose(-400L, 100L)
      width <- Gen.choose(0L, 600L)
    } yield (lks.zip(lts), rks.zip(rts), lo, lo + width)
    samples(caseGen).zipWithIndex.foreach { case ((lraw, rraw, lo, hi), ci) =>
      val l = lraw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val r = rraw.zipWithIndex.map { case ((k, t), j) => (k, t, j.toDouble) }
      val got = SeriesJoin.intervalJoin(
        l.toDF("id", "k", "ts"), r.toDF("k", "ts", "y"), Seq("k"),
        lower = lo, upper = hi)
        .select("id", "right_ts", "y")
        .as[(Long, Long, Double)].collect().toSeq
      val expect = for {
        (id, k, t) <- l
        (rk, rt, y) <- r
        if rk == k && rt >= t + lo && rt <= t + hi
      } yield (id, rt, y)
      assert(got.sorted === expect.sorted, s"case $ci window=[$lo,$hi]")
      assert(got.size === got.distinct.size, s"case $ci produced duplicates")
    }
  }

  test("aHash60: in range, deterministic, constant input hashes to 0") {
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.functions.col
    val textGen = Gen.choose(1, 200)
      .flatMap(k => Gen.listOfN(k, Gen.asciiPrintableChar).map(_.mkString))
    val texts = samples(Gen.listOfN(20, textGen)).flatten.distinct
    val df = (texts ++ texts).zipWithIndex // every text twice
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val hashes = df.withColumn("px_", Multimodal.pixels60(col("text")))
      .select(col("text"), Multimodal.aHash60Of(col("px_")).as("h"))
      .as[(String, Long)].collect()
    hashes.foreach { case (_, h) => assert(h >= 0L && h < (1L << 60)) }
    // identical text → identical hash across rows
    hashes.groupBy(_._1).values.foreach(g => assert(g.map(_._2).distinct.size === 1))
    // all pixels equal ⇒ no pixel strictly above the mean ⇒ hash 0
    val const = Seq((0L, "aaaaaaaaaa")).toDF("doc_id", "text")
      .withColumn("px_", Multimodal.pixels60(col("text")))
      .select(Multimodal.aHash60Of(col("px_"))).as[Long].head()
    assert(const === 0L)
  }

  test("dropDupWindows: token accounting holds and first copies survive") {
    import graft.pipeline.Dedup
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa")
    val corpusGen = for {
      n <- Gen.choose(2, 20)
      texts <- Gen.listOfN(n, Gen.choose(4, 40)
        .flatMap(k => Gen.listOfN(k, wordGen).map(_.mkString(" "))))
      // plant verbatim reuse: doc n+i repeats doc i's text with a prefix
      reused <- Gen.choose(1, math.max(1, n / 2))
    } yield {
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val copies = base.take(reused).map { case (i, t) =>
        (n + i, s"prefix$i $t")
      }
      base ++ copies
    }
    for (corpus <- samples(corpusGen)) {
      val res = Dedup.dropDupWindows(corpus.toDF("doc_id", "text"), w = 4)
        .as[(Long, String, Long, Long)].collect()
      assert(res.length === corpus.size)
      val byId = corpus.toMap
      res.foreach { case (id, clean, nTok, nRemoved) =>
        val orig = byId(id).split(" ")
        assert(nTok === orig.length.toLong, s"doc $id token count")
        val keptLen = if (clean.isEmpty) 0 else clean.split(" ").length
        assert(keptLen + nRemoved === nTok, s"doc $id accounting")
        // kept tokens are a subsequence of the original doc
        val it = orig.iterator
        assert(clean.isEmpty || clean.split(" ").forall(t => it.contains(t)),
          s"doc $id order")
      }
      // the globally first doc of every duplicated text is intact
      // (its windows rank first by (id, pos))
      val firstIds = corpus.groupBy(_._2).values.map(_.map(_._1).min).toSet
      res.filter(r => firstIds.contains(r._1) && r._1 < corpus.size / 2)
        .foreach { case (id, clean, _, removed) =>
          if (removed == 0) assert(clean === byId(id))
        }
    }
  }

  test("simhash combo index is lossless at the radius for ANY bit pattern") {
    // the pigeonhole argument behind Dedup.simhashPairs(blocks = 6):
    // flipping ≤ 3 of 60 bits damages ≤ 3 of the 6 ten-bit blocks, so
    // some C(6,3) combination of UNdamaged blocks must key both hashes
    // identically. Adversarial generator: flips spread across DISTINCT
    // blocks (the worst case — clustered flips damage fewer blocks).
    val combos = graft.pipeline.Dedup.simhashCombos(6, 3)
    assert(combos.size === 20)
    assert(combos.map(_._1) === (0 until 20)) // ids = positions
    assert(combos.map(_._2).distinct.size === 20)
    def keyOf(h: Long, bs: Seq[Int]): Long =
      bs.zipWithIndex.map { case (b, j) =>
        (((h >>> (b * 10)) & 1023L) << (j * 10))
      }.sum
    val caseGen = for {
      h <- Gen.choose(0L, (1L << 60) - 1)
      nFlips <- Gen.choose(0, 3)
      blocksHit <- Gen.pick(nFlips, 0 until 6)
      offsets <- Gen.listOfN(nFlips, Gen.choose(0, 9))
    } yield (h, blocksHit.zip(offsets).map { case (b, o) => b * 10 + o })
    for ((h1, flips) <- samples(Gen.listOfN(40, caseGen)).flatten) {
      val h2 = flips.foldLeft(h1)((h, bit) => h ^ (1L << bit))
      assert(combos.exists { case (_, bs) => keyOf(h1, bs) == keyOf(h2, bs) },
        s"pair within radius ${flips.size} missed: $h1 vs $h2")
    }
    // and the converse guard: a pair damaged in 4 DISTINCT blocks needs
    // not share any combo (the index is allowed to miss it — radius 3
    // is the contract); spot-check one such pattern stays un-keyed only
    // when all four damaged blocks break every 3-subset... which C(6,3)
    // cannot guarantee (two clean blocks < 3), so it MUST be missable:
    val h = 0L
    val far = (0 until 4).foldLeft(h)((x, b) => x ^ (1L << (b * 10)))
    assert(!combos.forall { case (_, bs) => keyOf(h, bs) == keyOf(far, bs) })
  }

  test("the driver-side series key equals Spark's for any tag map") {
    import org.apache.spark.sql.functions.col
    // supplementary characters (U+1D538, U+1F600) against U+FF21 and
    // U+E000: UTF-16 code units and UTF-8 bytes order these two groups
    // oppositely, and Spark sorts tag keys by their UTF-8 bytes
    val chars = Gen.oneOf("a", "b", "Z", "0", "_", "é", "ß", "中", "\uFF21", "\uE000",
      "\uD835\uDD38", "\uD83D\uDE00")
    def text(min: Int) = Gen.choose(min, 3).flatMap(Gen.listOfN(_, chars)).map(_.mkString)
    val tagsGen = Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(text(1), text(0)))).map(_.toMap)
    val cases = samples(Gen.listOfN(60, Gen.zip(text(1), tagsGen))).flatten :+
      ("m" -> Map("\uFF21" -> "x", "\uD835\uDD38" -> "y"))
    val derived = cases.toDF("metric", "tags")
      .select(Dp.seriesKey(col("metric"), col("tags"))).as[String].collect().toSeq
    assert(derived === cases.map { case (m, t) => Dp.seriesKey(m, t) })
    // the last case: String's order would put U+1D538 first
    assert(derived.last === "m,\uFF21=x,\uD835\uDD38=y")
  }

  test("SeqWindows: windows are strictly increasing under concurrent claims") {
    val seqs = new graft.ingest.SeqWindows(() => 1704412800000L) // frozen clock
    val out = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val threads = (0 until 8).map(_ => new Thread(() =>
      (0 until 200).foreach(_ => out.add(seqs.next()))))
    threads.foreach(_.start()); threads.foreach(_.join())
    // 1600 claims, all distinct, each a full 2^22 window apart
    assert(out.size === 1600)
    val sorted = out.toArray.map(_.asInstanceOf[Long]).sorted
    sorted.sliding(2).foreach { case Array(a, b) => assert(b - a >= (1L << 22)) }
  }
}
