package graft

import graft.pipeline.{Dedup, FilterChain, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup keeps the smallest id per content digest") {
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val res = Dedup.exact(d).as[(Long, Long)].collect().toSet
    assert(res === Set((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("ngram jaccard finds planted near-duplicates, minhash LSH agrees") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty) // the corpus has planted near-dups
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // LSH candidates verified by exact jaccard ⇒ subset; near-dups at
    // jac≥0.8 almost surely collide in ≥1 of 4 bands
    assert(lsh.subsetOf(exact))
    assert(lsh === exact) // at 0.99 jaccard, recall should be total
  }

  test("maxDocFreq drops hot shingles from the jaccard join") {
    // 3 docs sharing one hot phrase; two are near-identical
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tail"),
      (2L, "the quick brown fox jumps over the lazy dog tails"),
      (3L, "the quick brown completely different text here now")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(d, 3, 0.1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    // cap at df≤1: every shared shingle is dropped → no candidate pairs
    val capped = Dedup.ngramJaccardPairs(d, 3, 0.1, maxDocFreq = Some(1))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty)
  }

  test("clusters: every node labeled with its minimum reachable id") {
    import graft.pipeline.Dedup
    // chain 1-2-3-4 (diameter 3), pair 5-6, star 8-9-10, isolates 7/11/12
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (3L, 4L))
      .toDF("id1", "id2")
    val nodes = (1L to 12L).toDF("id")
    val got = Dedup.clusters(pairs, nodes).as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 11L, 12L -> 12L))
  }

  test("clusters: driver union-find path equals distributed hash-min path") {
    import graft.pipeline.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (3L, 4L))
      .toDF("id1", "id2")
    val nodes = (1L to 12L).toDF("id")
    val driver = Dedup.clusters(pairs, nodes).as[(Long, Long)].collect().toMap
    val dist = Dedup.clusters(pairs, nodes, driverEdgeCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver === dist)
  }

  test("clusters are invariant to pair order and orientation") {
    import graft.pipeline.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (3L, 4L))
    val nodes = (1L to 10L).toDF("id")
    val base = Dedup.clusters(pairs.toDF("id1", "id2"), nodes)
      .as[(Long, Long)].collect().toMap
    val shuffled = Dedup.clusters(
      scala.util.Random.shuffle(pairs).map { case (a, b) => (b, a) }.toDF("id1", "id2"),
      nodes).as[(Long, Long)].collect().toMap
    assert(base === shuffled)
  }

  test("collapse keeps exactly one representative per cluster") {
    import graft.pipeline.Dedup
    val d = Seq(
      (1L, "aaa"), (2L, "bbb"), (3L, "ccc"), (4L, "ddd"), (5L, "eee"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (3L, 5L), (2L, 4L)).toDF("id1", "id2")
    val kept = CacheScope(cache =>
      Dedup.collapse(cache, d, pairs).select("doc_id").as[Long].collect().toSet)
    assert(kept === Set(1L, 2L)) // cluster {1,3,5} → 1; {2,4} → 2
  }

  test("splits are stable under corpus growth") {
    import graft.pipeline.Sampling
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val subset = docs.filter($"doc_id" < 100)
    val onSubset = Sampling.assignSplits(subset, "doc_id", weights)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val onFull = Sampling.assignSplits(docs, "doc_id", weights)
      .filter($"doc_id" < 100)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(onSubset === onFull) // adding docs never moves an existing row
  }

  test("splits: deterministic, exhaustive, roughly proportional") {
    import graft.pipeline.Sampling
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = Sampling.assignSplits(docs, "doc_id", weights)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(s1.keySet === Set("train", "val", "test"))
    val n = s1.values.sum
    assert(n === docs.count())
    assert(s1("train").toDouble / n > 0.7 && s1("train").toDouble / n < 0.9)
    // rerun identical (hash-derived, no RNG state)
    val s2 = Sampling.assignSplits(docs, "doc_id", weights)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(s2 === s1)
    // sample is a fixed subset: sampling 0.25 twice gives the same rows
    val a = Sampling.deterministicSample(docs, "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministicSample(docs, "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b && a.nonEmpty && a.size < docs.count())
  }

  test("mixtureSample: whole copies + fractional epoch, deterministic") {
    import graft.pipeline.Sampling
    val m = Sampling.mixtureSample(docs, "source", "doc_id",
      Map("src0" -> 2.5, "src1" -> 0.25))
    val perDoc = m.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max("epoch").as("maxe"))
      .as[(Long, String, Long, Long)].collect()
    // src0 rows appear 2 or 3 times; src1 rows 0 or 1; others exactly 1
    assert(perDoc.forall { case (_, s, n, maxe) =>
      maxe == n - 1 && (s match {
        case "src0" => n == 2 || n == 3
        case "src1" => n == 1 // zero-copy rows don't appear at all
        case _ => n == 1
      })
    })
    val src0 = perDoc.filter(_._2 == "src0")
    val frac0 = src0.count(_._3 == 3).toDouble / src0.length
    assert(frac0 > 0.3 && frac0 < 0.7) // ~half get the fractional epoch
    val src1Kept = perDoc.count(_._2 == "src1")
    val src1Total = docs.filter($"source" === "src1").count()
    assert(src1Kept.toDouble / src1Total > 0.1 &&
      src1Kept.toDouble / src1Total < 0.4) // ~quarter keep rate
    // reproducible
    val again = Sampling.mixtureSample(docs, "source", "doc_id",
      Map("src0" -> 2.5, "src1" -> 0.25))
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    assert(again === m.select("doc_id", "epoch").as[(Long, Long)].collect().toSet)
  }

  test("tfidf: rare tokens outrank common ones at equal tf") {
    val d = Seq((1L, "rare common"), (2L, "common"), (3L, "common"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.tfidfKeywords(d, k = 2)
    val doc1 = r.filter($"doc_id" === 1).orderBy("rank")
      .select("token").as[String].collect()
    assert(doc1.toSeq === Seq("rare", "common"))
    assert(r.groupBy("doc_id").count().as[(Long, Long)].collect()
      .forall(_._2 <= 2))
  }

  test("packing: every doc binned; bins hold ~budget tokens") {
    import graft.pipeline.Sampling
    val packed = Sampling.packBins(docs, "doc_id",
      TextAnalysis.tokenCount($"text"), budgetTokens = 512, nBuckets = 8)
    assert(packed.count() === docs.count())
    val bins = packed
      .groupBy("bin")
      .agg(sum(TextAnalysis.tokenCount($"text").cast("long")).as("tok"))
      .as[(String, Long)].collect()
    assert(bins.length > 1)
    // a bin can overshoot the budget only by its last doc
    val maxDoc = docs.select(max(TextAnalysis.tokenCount($"text"))).as[Int].head()
    assert(bins.forall(_._2 < 512 + maxDoc), bins.maxBy(_._2).toString)
  }

  test("simhash near-dup pairs overlap the jaccard near-dups") {
    val sim = Dedup.simhashPairs(docs, nBits = 32, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // different measure, so not a superset — but near-dups at ~0.99
    // jaccard should mostly land within hamming 3
    val caught = exact.intersect(sim).size.toDouble / exact.size
    assert(caught > 0.7, s"simhash caught $caught of jaccard near-dups")
  }

  test("combinatorial simhash index finds the same pairs as the pigeonhole") {
    // both schemes are lossless at the radius, so uncapped they must
    // produce the identical pair set — the contract that makes blocks=6
    // a pure scale lever (the r16 A/B in SCALING.md picks between them
    // on candidate mass vs index size, never on output)
    val pig = Dedup.simhashPairs(docs, nBits = 60, maxHamming = 3,
        maxBucket = 0)
      .select("id1", "id2", "hamming").as[(Long, Long, Long)].collect().toSet
    val comb = Dedup.simhashPairs(docs, nBits = 60, maxHamming = 3,
        maxBucket = 0, blocks = 6)
      .select("id1", "id2", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(pig === comb)
    assert(pig.nonEmpty)
  }

  test("near-dup blocked join equals brute-force pairs; no cartesian in plan") {
    import graft.functions.GraftFunctions.dotp
    val res = Similarity.nearDupPairs(emb, threshold = 0.45, nBlocks = 4)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "broadcast NLJ in plan")
    val got = res.select("id1", "id2").as[(Long, Long)].collect().toSet
    val e = emb.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("n", sqrt(dotp($"v", $"v")))
    val brute = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .filter(dotp($"a.v", $"b.v") / ($"a.n" * $"b.n") >= 0.45)
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got === brute)
  }

  test("brute knn returns k neighbors per query, self excluded") {
    val res = Similarity.bruteKnn(emb, emb.filter($"vec_id" < 3), k = 4)
    val rows = res.as[(Long, Long, Double)].collect()
    assert(rows.length === 12)
    assert(rows.forall { case (q, n, _) => q != n })
    assert(rows.groupBy(_._1).forall(_._2.length == 4))
  }

  test("prefix-filter join equals the inverted-index join and prunes candidates") {
    val full = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8,
      maxDocFreq = None)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val pref = Dedup.prefixFilterPairs(docs, n = 3, threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pref === full, "prefix filtering must be lossless")
    // the prefix relation is a strict subset of the shingle relation
    val sh = Dedup.shingleHashes(docs, 3).select("id", "h")
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, "h")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val prefRows = ranked
      .filter(col("pos") <= col("n") - ceil(lit(0.8) * col("n")) + 1).count()
    val allRows = sh.count()
    assert(prefRows < allRows / 2,
      s"prefix relation $prefRows should be well under half of $allRows")
  }

  test("prefix length survives the float-ceil boundary (J exactly at t)") {
    // x ⊂ y with |x|=4, |y|=5 shingles → J = 4/5 = 0.8 exactly. y's
    // extra shingle ("z a b") is the corpus's rarest (df=1), so the
    // pair's first common shingle sits at y's prefix slot 2 — and
    // ⌈0.8·5⌉ computed on raw doubles is ceil(4.0000000000000002) = 5,
    // a one-short prefix that silently drops the pair. The −1e-9 slack
    // inside the ceil is what keeps this lossless.
    val two = Seq((1L, "a b c d e f"), (2L, "z a b c d e f"))
      .toDF("doc_id", "text")
    val pairs = Dedup.prefixFilterPairs(two, n = 3, threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("lr training learns the separating feature's sign") {
    // label = "wordy": long, punctuation-free prose vs short noisy docs —
    // ntok_norm separates, punct_ratio anti-separates
    val pos = (1L to 30L).map(i =>
      (i, (1 to 80).map(j => s"w${(i + j) % 50}").mkString(" "), "en"))
    val neg = (31L to 60L).map(i => (i, "x!! y.. z;; !!", "zz"))
    val d = (pos ++ neg).toDF("doc_id", "text", "lang")
    val w = TextAnalysis.lrTrain(d, col("lang") === "en", iters = 3)
      .as[(String, Double)].collect().toMap
    assert(w("ntok_norm") > 0, s"length weight should be positive: $w")
    assert(w("punct_ratio") < 0, s"punct weight should be negative: $w")
    // the learned model actually separates the training set
    val feats = TextAnalysis.qualityFeatureCols(col("text"),
      graft.pipeline.TextAnalysis.tokens(col("text")))
    val z = feats.foldLeft(lit(w("bias")): org.apache.spark.sql.Column) {
      case (acc, (name, c)) => acc + c * w(name)
    }
    val scored = d.select(col("lang") === "en", z > 0).as[(Boolean, Boolean)]
      .collect()
    val acc = scored.count(p => p._1 == p._2).toDouble / scored.length
    assert(acc >= 0.9, s"training accuracy $acc")
  }

  test("temperature mixture flattens the head and lifts the tail") {
    // 90/10 skew; T=2 should pull the mix toward balance while keeping
    // the total budget near N
    val rows = (1 to 90).map(i => (i.toLong, "big")) ++
      (91 to 100).map(i => (i.toLong, "small"))
    val d = rows.toDF("doc_id", "source")
    val out = Sampling.temperatureMixture(d, "source", "doc_id",
      temperature = 2.0)
    val byS = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(byS("small").toDouble / 10 > 1.5, s"tail not lifted: $byS")
    assert(byS("big").toDouble / 90 < 1.0, s"head not trimmed: $byS")
    val total = byS.values.sum
    assert(math.abs(total - 100) <= 10, s"budget drifted: $total")
    // T=1 is the natural distribution: every doc exactly once
    val nat = Sampling.temperatureMixture(d, "source", "doc_id",
      temperature = 1.0)
    assert(nat.count() == 100)
  }

  test("containment catches a quoted doc that jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq(1L -> quote, 2L -> s"$filler $quote $filler")
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(d, n = 3, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("contained"),
        r.getAs[Long]("container"), r.getAs[Double]("containment")))
    // doc 1's shingles all appear in doc 2 → containment 1.0 one-way
    assert(cont.contains((1L, 2L, 1.0)), s"got ${cont.toSeq}")
    assert(!cont.exists(_._1 == 2L), "big doc is not contained in small")
    // jaccard symmetrizes by the union and misses the pair entirely
    val jac = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.8).count()
    assert(jac == 0)
  }

  test("random projection is deterministic and roughly norm-preserving") {
    val p1 = Similarity.randomProject(emb, outDim = 16, dim = 64)
    val p2 = Similarity.randomProject(emb, outDim = 16, dim = 64)
    assert(p1.collect().toSet === p2.collect().toSet)
    // E[||y||²] = ||x||² under JL; per-vector ratios concentrate around 1
    import graft.functions.GraftFunctions.dotp
    val orig = emb.select($"vec_id",
      dotp(transform($"embedding", x => x.cast("double")),
        transform($"embedding", x => x.cast("double"))).as("n2"))
    val proj = p1.groupBy("vec_id").agg(sum($"y" * $"y").as("p2"))
    val ratios = orig.join(proj, "vec_id")
      .select(($"p2" / $"n2").as("r")).as[Double].collect()
    val mean = ratios.sum / ratios.length
    assert(mean > 0.5 && mean < 2.0, s"norm ratio mean $mean")
  }

  test("sq8 knn tracks exact brute-force ranking closely") {
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteKnn(emb, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8Knn(emb, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = sq8.intersect(brute).size.toDouble / brute.size
    // int8 cosine error is ~1/127 per axis; top-5 sets should barely move
    assert(recall >= 0.9, s"sq8 recall@5=$recall < 0.9")
  }

  test("lsh knn recall scales with the number of hash tables") {
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteKnn(emb, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(tables: Int) = {
      val lsh = Similarity
        .lshKnn(emb, queries, 5, dim = 64, nPlanes = 4, nTables = tables)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      lsh.intersect(brute).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 > r1, s"r1=$r1 r8=$r8")
    assert(r8 > 0.4, s"r8=$r8")
  }

  test("IVF index persists to parquet and searches identically") {
    val root = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val (cent, assigned) = Similarity.ivfIndex(emb)
    cent.write.parquet(s"$root/centroids")
    assigned.write.parquet(s"$root/lists")
    val queries = emb.filter($"vec_id" < 10)
    val fromIndex = Similarity.ivfSearch(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/lists"), queries, k = 5)
      .as[(Long, Long, Double)].collect().toSet
    val inline = Similarity.ivfKnn(emb, queries, k = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty)
  }

  test("pq: valid deterministic codes, finer codebooks cut distortion") {
    val books = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 2)
    assert(books.size === 4)
    assert(books.forall(_.size === 8))
    assert(books.forall(_.forall(_._2.size === 16)))
    val codes = Similarity.pqEncode(emb, books)
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    val valid = books.map(_.map(_._1).toSet)
    codes.foreach { case (id, cs) =>
      assert(cs.size === 4)
      cs.zipWithIndex.foreach { case (c, s) =>
        assert(valid(s).contains(c), s"vec $id subspace $s code $c not in book")
      }
    }
    // deterministic end to end: retrain + re-encode is identical
    val again = Similarity.pqEncode(emb,
      Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 2))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(codes.toSeq === again.toSeq)
    // mean squared reconstruction error must drop with more subspaces
    // (finer product decomposition = strictly more expressive codebook)
    def distortion(m: Int): Double = {
      val bs = Similarity.pqCodebooks(emb, m, k = 8, iters = 2)
      val sub = 64 / m
      val cent = bs.map(_.toMap)
      val vecs = emb.select(col("vec_id").cast("long"),
        transform(col("embedding"), x => x.cast("double")))
        .as[(Long, Seq[Double])].collect()
      val cs = Similarity.pqEncode(emb, bs)
        .as[(Long, Seq[Long])].collect().toMap
      vecs.map { case (id, v) =>
        (0 until m).map { s =>
          val rec = cent(s)(cs(id)(s))
          v.slice(s * sub, (s + 1) * sub).zip(rec)
            .map { case (a, b) => (a - b) * (a - b) }.sum
        }.sum
      }.sum / vecs.length
    }
    val d4 = distortion(4)
    val d8 = distortion(8)
    info(s"mean reconstruction error: m=4 $d4, m=8 $d8")
    assert(d8 < d4, s"finer PQ should reconstruct better: m8=$d8 m4=$d4")
  }

  test("pq: ADC recall beats random and tracks brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteKnn(emb, q, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val books = Similarity.pqCodebooks(emb, m = 8, k = 8, iters = 2)
    val codes = Similarity.pqEncode(emb, books)
    val pq = Similarity.pqAdcKnn(codes, q, books, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    val n = emb.count().toDouble
    info(s"pq recall@10 = $recall (random baseline ${10 / n})")
    // ADC is an approximation — the floor is a regression tripwire an
    // order of magnitude above the random baseline (10/N = 0.02 on this
    // fixture; measured 0.27), not a quality claim; IVF/LSH carry the
    // pinned high-recall bounds
    assert(recall >= 0.2, s"pq recall collapsed: $recall")
  }

  test("pq at production parameters: k=256 m=16 trains, encodes, searches") {
    // the literal-expression form died here (4,096 struct literals per
    // row → 64KB-method interpreted fallback + minutes of plan build);
    // the native NearestCentroid/PqAdc nodes must handle it in bounded
    // time on the 500-vector sf0.01 fixture
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val t0 = System.nanoTime()
    val books = Similarity.pqCodebooks(emb01, m = 16, k = 256, iters = 2)
    assert(books.size === 16 && books.forall(_.size === 256))
    assert(books.forall(_.forall(_._2.size === 4))) // 64/16 dims each
    val codes = Similarity.pqEncode(emb01, books)
      .as[(Long, Seq[Long])].collect()
    assert(codes.length === 500 && codes.forall(_._2.size === 16))
    val q = emb01.filter($"vec_id" < 5)
    val pq = Similarity.pqAdcKnn(codes = Similarity.pqEncode(emb01, books),
      queries = q, books = books, k = 10)
      .as[(Long, Long, Double)].collect()
    assert(pq.length === 50) // 5 queries × 10 neighbors
    assert(pq.forall(r => !r._3.isNaN), "NaN ADC = codebook lookup bug")
    // at k=256 on 500 vectors the codebook nearly memorizes the corpus —
    // ADC distances must be small and the search must finish fast
    val secs = (System.nanoTime() - t0) / 1e9
    info(s"k=256 m=16 train+encode+search took $secs s")
    assert(secs < 120, s"production-parameter PQ too slow: $secs s")
  }

  test("pq: Q=1000 dispatches to the broadcast-frame ADC and matches the expression path") {
    // the expression path's plan grows one PqAdc node per query; a
    // thousand simultaneous queries must dispatch to the joined-frames
    // variant (O(1) plan in Q) and produce the SAME top-k — the frames
    // path is bit-compatible by construction (ascending folds, in-order
    // partial aggregation), so this is exact equality, not recall
    val books = Similarity.pqCodebooks(emb, m = 8, k = 8, iters = 2)
    val codes = Similarity.pqEncode(emb, books)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 1000 queries: the corpus vectors re-id'd cyclically (ids ≥ 100000
    // never collide with corpus ids, so no self-exclusion asymmetry)
    val q1000 = emb.filter($"vec_id" < 250)
      .select(explode(array((0 until 4).map(i =>
        ($"vec_id" + lit(100000 + 250 * i)).cast("long")): _*)).as("vec_id"),
        $"embedding")
    val viaDispatch = Similarity.pqAdcKnn(codes, q1000, books, k = 5)
    // the dispatched plan must be the joined form: one broadcast of the
    // distance tables, no per-query expression explosion
    val plan = viaDispatch.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"Q=1000 did not take the broadcast-frame path:\n${plan.take(2000)}")
    val a = viaDispatch.as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // force the per-query expression path for the equality check. At
    // Q=1000 its single doConsume exceeds the 64KB JVM method limit, so
    // this run logs "ERROR CodeGenerator ... Code grows beyond 64 KB"
    // and falls back to interpreted — EXPECTED here (it is the very
    // degeneracy the dispatcher exists to avoid), not a product bug
    val b = Similarity.pqAdcKnn(codes, q1000, books, k = 5,
        maxExprQueries = 0)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.length === 1000 * 5 && a.toSeq === b.toSeq)
    codes.unpersist()
  }

  test("ivf-pq: residual ADC beats plain-PQ ADC recall at equal code budget") {
    // the IVFADC claim (Jégou et al. 2011 §IV): quantizing RESIDUALS
    // recovers precision plain PQ loses, because residual magnitudes are
    // a fraction of vector magnitudes so the same k centroids cover them
    // finer. Probing must also bound the scan: every result's neighbor
    // lives in one of the query's nprobe nearest lists by construction.
    val q = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteKnn(emb, q, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val books = Similarity.pqCodebooks(emb, m = 4, k = 8, iters = 2)
    val plain = Similarity.pqAdcKnn(Similarity.pqEncode(emb, books), q, books, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqKnn(emb, q, k = 5,
      nlist = 8, nprobe = 8, m = 4, kPq = 8, iters = 2) // all lists: isolate the residual effect
    val got = ivfpq.select("qid", "nid").as[(Long, Long)].collect().toSet
    val rPlain = plain.intersect(brute).size.toDouble / brute.size
    val rIvfPq = got.intersect(brute).size.toDouble / brute.size
    info(s"recall@5: plain-pq=$rPlain ivf-pq=$rIvfPq")
    assert(rIvfPq >= rPlain,
      s"residual coding lost recall: ivfpq=$rIvfPq < plain=$rPlain")
    // same tripwire level as the plain-ADC spec: an order of magnitude
    // above the 5/N≈0.01 random baseline, not a quality claim (m=4/k=8
    // codes are deliberately coarse so the oracle replay stays cheap)
    assert(got.size === 50 && rIvfPq >= 0.2, s"ivf-pq recall collapsed: $rIvfPq")
    ivfpq.unpersist()
  }

  test("pinned ANN recall bounds: lsh ≥ 0.7 and ivf ≥ 0.9 at recall@10") {
    // quantitative floor so a silent recall collapse fails CI instead of
    // drifting; the sf0.01 fixture (5k vectors) gives stable statistics
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb01.filter($"vec_id" < 30)
    val brute = Similarity.bruteKnn(emb01, queries, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity
      .lshKnn(emb01, queries, 10, dim = 64, nPlanes = 4, nTables = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lshRecall = lsh.intersect(brute).size.toDouble / brute.size
    assert(lshRecall >= 0.7, s"lsh recall@10=$lshRecall < 0.7")
    // ~156 lists, 16 probed (10% of the corpus volume): measured
    // recall@10 = 1.0 on this fixture, so 0.9 flags a real collapse,
    // not parameter noise
    val ivf = Similarity.ivfKnn(emb01, queries, 10, centStep = 32, nProbe = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfRecall = ivf.intersect(brute).size.toDouble / brute.size
    assert(ivfRecall >= 0.9, s"ivf recall@10=$ivfRecall < 0.9")
  }

  test("ivf: trained centroids match or beat the subsample stand-in") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb01.filter($"vec_id" < 30)
    val brute = Similarity.bruteKnn(emb01, queries, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(cent: Option[org.apache.spark.sql.DataFrame]): Double = {
      // ~16 lists, 4 probed — deliberately unsaturated so quantizer
      // quality shows up in recall instead of both paths hitting 1.0
      val (c, assigned) =
        Similarity.ivfIndex(emb01, centStep = 32, centroids = cent)
      val got = Similarity.ivfSearch(c, assigned, queries, 10, nProbe = 4)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val sub = recall(None)
    val trained = recall(Some(
      Similarity.trainedCentroids(emb01, k = 16, iters = 3)))
    info(s"ivf recall@10: subsample=$sub trained=$trained")
    assert(trained >= sub,
      s"trained coarse quantizer lost to the subsample: $trained < $sub")
  }

  test("ivf knn: k results per query, self excluded, decent recall") {
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteKnn(emb, queries, 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, queries, k = 5, centStep = 16, nProbe = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(ivf.groupBy(_._1).size === 20)
    assert(ivf.forall { case (q, n) => q != n })
    // 3 probes over ~31 lists cover a small corpus slice; planted
    // near-dups cluster into the same list, so recall stays well above
    // the ~10% volume fraction searched
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall")
    // more probes ⇒ recall grows toward exact
    val all = Similarity.ivfKnn(emb, queries, k = 5, centStep = 16, nProbe = 32)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(all.intersect(brute).size >= ivf.intersect(brute).size)
  }

  test("text analysis columns are sane") {
    val r = docs.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.stopwordRatio($"text").as("sw"),
      TextAnalysis.qualityScore($"text").as("q"),
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.fingerprint($"text").as("fp"))
    val rows = r.collect()
    assert(rows.forall(_.getInt(0) > 0))
    assert(rows.forall(x => x.getDouble(2) >= 0 && x.getDouble(2) <= 1))
    assert(rows.forall(x => x.getLong(4) >= 0))
    // fingerprint is order-sensitive
    val fp = Seq("a b c", "c b a").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    assert(fp(0) !== fp(1))
  }

  test("multimodal: partition-local decode matches declarative meta") {
    val media = Multimodal.withPayload(docs.limit(10), "text", "doc_id")
    val declarative = Multimodal.extractMeta(media)
      .select("id", "byte_len", "checksum").as[(Long, Long, String)].collect().toSet
    val typed = Multimodal
      .decodePartitions(media.as[(Long, Array[Byte])])
      .map(r => (r.id, r.meta.byteLen, r.meta.checksum)).collect().toSet
    assert(typed === declarative)
  }

  test("multimodal: real PNG decode round-trips the pixel plane exactly") {
    val px = Array.tabulate(64)(k => (k * 37 + 11) % 256)
    val png = Multimodal.encodeGrayPng(8, 8, px)
    // it really is a PNG container
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val dec = Multimodal.decodeImage(png).get
    assert(dec.width === 8 && dec.height === 8)
    assert(dec.gray.toSeq === px.toSeq, "PNG is lossless: decode(encode(px)) == px")
    // non-image bytes are not an image
    assert(Multimodal.decodeImage("plain text".getBytes("UTF-8")).isEmpty)
    // decodePartitions reports REAL dimensions for image payloads
    val media = Seq((1L, png)).toDS()
    val meta = Multimodal.decodePartitions(media).collect().head.meta
    assert(meta.width === 8 && meta.height === 8 && meta.byteLen === png.length)
  }

  test("multimodal: aHash over real decoded pixels has hamming locality") {
    def hash(px: Array[Int]): Long = {
      val png = Multimodal.encodeGrayPng(8, 8, px)
      val media = Seq((1L, png)).toDS()
      Multimodal.decodeGray(media)
        .select(Multimodal.aHash60Of(slice(col("px"), 1, 60)))
        .as[Long].collect().head
    }
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // a half-dark half-bright plane: every pixel is far from the mean
    val base = Array.tabulate(64)(k => if (k < 32) 40 else 220)
    val h0 = hash(base)
    // one flipped pixel must move few bits; an inverted plane moves many
    val oneFlip = base.clone(); oneFlip(5) = 220
    val inverted = base.map(256 - _)
    assert(hash(base) === h0, "deterministic")
    assert(hamming(h0, hash(oneFlip)) <= 2, "near-identical images hash near")
    assert(hamming(h0, hash(inverted)) >= 30, "opposite images hash far")
  }

  test("frame sampling: fixed windows, tail kept, empties dropped") {
    val media = Seq((1L, "x" * 100)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
      Multimodal.withPayload(media, "text", "doc_id"), n = 3, frameBytes = 64)
    val rows = frames.select("frame_idx").as[Int].collect().toSeq.sorted
    assert(rows === Seq(0, 1)) // 100 bytes → frame 0 (64) + frame 1 (36)
  }

  test("embedPrep: unit vectors have norm 1, quantization spans [-127,127]") {
    val r = Similarity.embedPrep(emb)
      .select(
        abs(graft.functions.GraftFunctions.dotp(col("unit"), col("unit")) - 1.0).as("err"),
        array_min(col("q")).as("qmin"), array_max(col("q")).as("qmax"))
      .agg(max("err"), min("qmin"), max("qmax"))
      .as[(Double, Long, Long)].first()
    assert(r._1 < 1e-9)
    assert(r._2 >= -127L && r._3 <= 127L)
    // the max-|x| component quantizes to exactly ±127 in every vector
    val hit = Similarity.embedPrep(emb)
      .filter(array_max(col("q")) === 127 || array_min(col("q")) === -127)
    assert(hit.count() === emb.count())
  }

  test("centroidOutliers: the planted anti-centroid vector ranks first") {
    // 20 vectors near +e1, one pointed the opposite way
    val rows = (0L until 20L).map(i =>
      (i, Array(1.0f, 0.01f * i, 0f, 0f))) :+ (99L, Array(-1.0f, 0f, 0f, 0f))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(df, k = 3).collect()
    assert(out.head.getAs[Long]("vec_id") === 99L,
      s"anti-centroid vector should be rank 1: ${out.toSeq}")
    assert(out.head.getAs[Double]("cos_centroid") < 0, "negative cosine")
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    // deterministic integer pipeline: rerun is bit-identical
    val again = Similarity.centroidOutliers(df, k = 3).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("kmeans degenerates cleanly at k=1") {
    val a = Similarity.kmeans(emb, k = 1, iters = 1)
    assert(a.select("cid").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(a.count() === emb.count())
  }

  test("kmeans: points sit with their nearest centroid; iterating helps") {
    val a = Similarity.kmeans(emb, k = 4, iters = 2)
    // every cluster non-empty and all points assigned exactly once
    val sizes = a.groupBy("cid").count().as[(Long, Long)].collect().toMap
    assert(sizes.keySet === Set(0L, 1L, 2L, 3L) && sizes.values.sum === emb.count())
    // deterministic across runs
    val b = Similarity.kmeans(emb, k = 4, iters = 2)
    assert(a.orderBy("id").collect().toSeq === b.orderBy("id").collect().toSeq)
  }

  test("repetition stats: crafted docs hit exact fractions and runs") {
    val d = Seq(
      (1L, "a b c d"),           // no repeats
      (2L, "a a a b"),           // dup tokens, run of 3
      (3L, "x y x y x y"))       // repeated bigram "x y", no run
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(d)
      .orderBy("doc_id")
      .as[(Long, Double, Double, Double, Long)].collect()
    assert(r(0) === ((1L, 0.0, 0.0, 0.0, 1L)))
    assert(r(1)._2 === 0.5) // 4 tokens, 2 distinct
    assert(r(1)._5 === 3L)
    // "x y x y x y": 5 bigrams, 2 distinct → 3/5 dup; 4 trigrams, 2 distinct
    assert(r(2)._3 === 0.6 && r(2)._4 === 0.5 && r(2)._5 === 1L)
  }

  test("decontaminate: only train docs sharing an n-gram with eval flagged") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),  // shares 4-gram with eval
      (2L, "completely different words here now")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "see the quick brown fox run")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(train, eval_, n = 4)
      .as[(Long, Long)].collect().toMap
    // the single shared 4-gram is "the quick brown fox"; doc 2 is clean
    assert(r === Map(1L -> 1L))
  }

  test("containmentEstimate: a subset doc is flagged contained in its superset") {
    val a = "q w e r t y u i o p"                 // 8 shingles (n=3)
    val b = a + " extra tokens beyond the base"   // superset of a's shingles
    val c = "完全 different words nothing shared here at all ok"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = Dedup.containmentEstimate(docs, n = 3, threshold = 0.5)
      .collect().map(x => (x.getAs[Long]("contained"),
        x.getAs[Long]("container")) -> x.getAs[Double]("est")).toMap
    assert(r.contains((1L, 2L)), s"subset must be flagged: $r")
    assert(r((1L, 2L)) >= 0.5 && r((1L, 2L)) <= 1.5,
      s"estimate in a plausible band: $r")  // ±noise from 8 slots
    assert(!r.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"disjoint doc must not pair: $r")
    // estimates agree with the exact operator's direction: containment
    // of the small doc in the big one exceeds the reverse
    assert(r.get((2L, 1L)).forall(_ <= r((1L, 2L))), s"orientation: $r")
  }

  test("contaminationReport: per-eval-doc dirty gram counts and fraction") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely different words here now")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "see the quick brown fox run")).toDF("doc_id", "text")
    val r = Dedup.contaminationReport(train, eval_, n = 4)
      .as[(Long, Long, Long, Double)].collect()
    // eval doc 9 has 3 distinct 4-grams; only "the quick brown fox"
    // appears in train → 1 dirty of 3
    assert(r.toSeq === Seq((9L, 3L, 1L, 1.0 / 3.0)))
    // the huge train gram stream must semi-join a BROADCAST eval set —
    // a shuffle of train grams here would be the 100TB bottleneck
    val plan = Dedup.contaminationReport(train, eval_, n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
  }

  test("bloomDecontaminate: superset of exact flags; exact at low fill") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely different words here now")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "see the quick brown fox run")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(train, eval_, n = 4)
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.bloomDecontaminate(train, eval_, n = 4)
      .as[(Long, Long)].collect().toMap
    // no false negatives: every exact flag survives with count ≥ exact
    exact.foreach { case (id, cnt) => assert(bloom.getOrElse(id, 0L) >= cnt) }
    // 3 eval grams × 4 hashes into 2^16 bits → FP ≈ 0: equality expected
    assert(bloom === exact)
    // saturated filter (mBits = 2) flags EVERY train gram — shows the
    // FP mechanism is live rather than silently exact
    val sat = Dedup.bloomDecontaminate(train, eval_, n = 4, mBits = 2)
      .as[(Long, Long)].collect().toMap
    assert(sat(2L) === 2L) // doc 2's two 4-grams, all false positives
  }

  test("decontaminate plan broadcasts the eval grams, never the train side") {
    val plan = Dedup.decontaminate(docs, docs.limit(5), n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("capPerKey keeps exactly min(k, n) per key, deterministically") {
    val d = (0L until 30L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val r1 = Sampling.capPerKey(d, "source", "doc_id", 4)
      .as[(Long, String)].collect().toSet
    val r2 = Sampling.capPerKey(d, "source", "doc_id", 4)
      .as[(Long, String)].collect().toSet
    assert(r1 === r2 && r1.size === 12)
    assert(r1.groupBy(_._2).forall(_._2.size === 4))
    // cap above group size keeps everything
    assert(Sampling.capPerKey(d, "source", "doc_id", 100).count() === 30)
  }

  test("filter chain: first failing rule wins, duplicates tagged") {
    val en = "the stream is a table of the data and it is fast for the query"
    val d = Seq(
      (1L, en),                               // ok
      (2L, en),                               // duplicate of 1
      (3L, "el la de que y " * 4),            // lang
      (4L, "the a of and to in is"),          // too_short (7 tokens)
      (5L, en + (" word word word")))         // repetitive_run (run of 3)
      .toDF("doc_id", "text")
    val r = FilterChain.c4Filter(d)
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, String)].collect().sortBy(_._1)
    assert(r(0) === ((1L, true, "ok")))
    assert(r(1) === ((2L, false, "duplicate")))
    assert(r(2)._3 === "lang")
    assert(r(3)._3 === "too_short")
    assert(r(4)._3 === "repetitive_run")
  }

  test("semanticDedup: pairs stay within clusters; labels are min-reachable") {
    val labels = Similarity.semanticDedup(emb, k = 4, iters = 2, threshold = 0.3)
    val l = labels.as[(Long, Long)].collect().toMap
    labels.unpersist()
    // every embedding gets a label, representatives label themselves
    assert(l.size === emb.count())
    assert(l.values.toSet.forall(cid => l(cid) === cid))
    // the semantic pair set is a subset of the global near-dup pairs at
    // the same threshold (cluster restriction only removes pairs)
    val sem = Similarity.semanticPairs(emb, k = 4, iters = 2, threshold = 0.3)
    val semPairs = sem.select("id1", "id2").as[(Long, Long)].collect().toSet
    sem.unpersist()
    val global = Similarity.nearDupPairs(emb, 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(semPairs.subsetOf(global))
    assert(semPairs.nonEmpty) // near-dups co-cluster — that's the premise
  }

  test("spanDedup: first occurrence wins, order preserved, empties kept") {
    val d = Seq(
      (1L, "alpha beta. gamma delta. unique one"),
      (2L, "alpha beta. second only. gamma delta"),
      (3L, "alpha beta. gamma delta")) // every span seen before
      .toDF("doc_id", "text")
    val r = Dedup.spanDedup(d).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(r(0) === ((1L, "alpha beta. gamma delta. unique one", 3L, 0L)))
    assert(r(1) === ((2L, "second only", 3L, 2L)))
    assert(r(2) === ((3L, "", 2L, 2L))) // survives as an empty doc
  }

  test("quality LR: prose outranks degenerate junk, score in (0,1)") {
    val d = Seq(
      (1L, "the cat sat on a mat and it was a good day for everyone in town"),
      (2L, "spam spam spam spam spam spam spam spam"),
      (3L, "!!! ??? ... ;;; ::: ,,, !!!")).toDF("doc_id", "text")
    val r = d.select($"doc_id",
      graft.pipeline.TextAnalysis.qualityLrScore($"text").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(r.values.forall(s => s > 0.0 && s < 1.0))
    assert(r(1L) > r(2L) && r(1L) > r(3L))
  }

  test("dupWindowStats: repeated windows flagged across and within docs") {
    val d = Seq(
      (1L, "a b c d e unique tail one"),
      (2L, "a b c d e different ending here"),  // shares the 5-window "a b c d e" with 1
      (3L, "x y z x y z x y z x"), // in-doc repetition: "x y z x y" repeats
      (4L, "short")) // < w tokens ⇒ no row
      .toDF("doc_id", "text")
    val r = Dedup.dupWindowStats(d, w = 5)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L))
    val m = r.map(x => x._1 -> x).toMap
    assert(m(1L)._2 === 4) // 8 tokens, w=5 ⇒ 4 windows
    assert(m(1L)._3 === 1) // only "a b c d e" is shared
    assert(m(2L)._3 === 1)
    // doc 3: 10 tokens ⇒ 6 windows; "x y z x y" at 0 and 3, "y z x y z"
    // at 1 and 4, "z x y z x" at 2 and 5 ⇒ all 6 dup
    assert(m(3L)._2 === 6 && m(3L)._3 === 6 && m(3L)._4 === 1.0)
  }

  test("wordpiece: greedy longest-match, ## continuations, [UNK] words") {
    val vocab = Seq("un", "aff", "##aff", "##able", "affable", "hello",
      "##lo", "hell")
    // longest-first: "hello" matches whole before "hell"+"##lo"
    assert(TextAnalysis.wordpieceWord("hello", vocab.toSet, 7) === Seq("hello"))
    assert(TextAnalysis.wordpieceWord("unaffable", vocab.toSet, 7) ===
      Seq("un", "##aff", "##able"))
    // "affable" as a continuation is not in vocab with ## — whole-word
    // match fires at pos 0 instead
    assert(TextAnalysis.wordpieceWord("affable", vocab.toSet, 7) ===
      Seq("affable"))
    // any unmatchable remainder voids the word
    assert(TextAnalysis.wordpieceWord("unxyz", vocab.toSet, 7) === Seq("[UNK]"))
    val d = Seq((1L, "hello unaffable"), (2L, "zzz")).toDF("doc_id", "text")
    val r = TextAnalysis.wordpiece(d, vocab)
      .as[(Long, Seq[String], Int)].collect().toSeq.sortBy(_._1)
    assert(r(0) === ((1L, Seq("hello", "un", "##aff", "##able"), 4)))
    assert(r(1) === ((2L, Seq("[UNK]"), 1)))
  }

  test("charEntropy: exact values on constructed distributions") {
    val d = Seq(
      (1L, "aaaa"), // one symbol → 0 bits
      (2L, "abab"), // uniform over 2 → 1 bit
      (3L, "aabb"), // same distribution, different order → same entropy
      (4L, "abcd"), // uniform over 4 → 2 bits
      (5L, "aab") // 2/3,1/3 → ~0.9183 bits
    ).toDF("doc_id", "text")
    val r = TextAnalysis.charEntropy(d)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4 / 1e9 / math.log(2.0)))).toMap
    assert(r(1L)._1 === 4 && r(1L)._2 === 1)
    assert(math.abs(r(1L)._3 - 0.0) < 1e-6)
    assert(math.abs(r(2L)._3 - 1.0) < 1e-6)
    assert(r(2L)._3 === r(3L)._3)
    assert(math.abs(r(4L)._3 - 2.0) < 1e-6)
    val expected5 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2.0)
    assert(math.abs(r(5L)._3 - expected5) < 1e-6)
    // non-BMP safety: an emoji (surrogate pair in UTF-16) counts as ONE
    // char, matching the oracle's codepoint semantics
    val emoji = TextAnalysis.charEntropy(Seq((9L, "a😀a😀")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(emoji._2 === 4 && emoji._3 === 2) // 4 codepoints, 2 distinct
    assert(math.abs(emoji._4 / 1e9 / math.log(2.0) - 1.0) < 1e-6)
    // entropy of n distinct chars is bounded by log2(n)
    val corpus = TextAnalysis.charEntropy(docs)
      .as[(Long, Long, Long, Long)].collect()
    corpus.foreach { case (id, _, uniq, q) =>
      val bits = q / 1e9 / math.log(2.0)
      assert(bits >= 0 && bits <= math.log(uniq.toDouble) / math.log(2.0) + 1e-9,
        s"doc $id entropy $bits outside [0, log2($uniq)]")
    }
  }

  test("bpe: hand-computed merges and encode on a tiny corpus") {
    // freqs: "low" x5, "lower" x2, "newest" x6, "widest" x3
    val d = (1 to 5).map(i => (i.toLong, "low")) ++
      (6 to 7).map(i => (i.toLong, "lower")) ++
      (8 to 13).map(i => (i.toLong, "newest")) ++
      (14 to 16).map(i => (i.toLong, "widest"))
    val df = d.toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(df, 4)
    // pair counts round 1: (e,s)=9, (s,t)=9, (w,e)=8, (l,o)=7, (o,w)=7,
    // (n,e)=6, (e,w)=6, (d,e)=3, (i,d)=3, (w,i)=3, (e,r)=2
    // count-desc then lexicographic: (e,s) beats (s,t) at 9
    assert(merges(0) === ("e", "s"))
    // round 2: "es"+"t"=9 wins (l,o)=7/(o,w)=7
    assert(merges(1) === ("es", "t"))
    // round 3: (l,o)=7 and (o,w)=7 tie — lexicographic picks (l,o)
    assert(merges(2) === ("l", "o"))
    // round 4: (lo,w)=7 beats (n,e)=6/(w,e)=6
    assert(merges(3) === ("lo", "w"))
    assert(TextAnalysis.bpeEncodeWord("lowest", merges) ===
      Seq("low", "est"))
    assert(TextAnalysis.bpeEncodeWord("newest", merges) ===
      Seq("n", "e", "w", "est"))
  }

  test("bpe: merge is non-overlapping left-to-right") {
    assert(TextAnalysis.bpeMergePair(Vector("a", "a", "a"), "a", "a") ===
      Vector("aa", "a"))
    assert(TextAnalysis.bpeMergePair(Vector("a", "a", "a", "a"), "a", "a") ===
      Vector("aa", "aa"))
    assert(TextAnalysis.bpeMergePair(Vector("x"), "a", "a") === Vector("x"))
  }

  test("bpe: sequential replay equals min-rank-first on trained merges") {
    // the published-encoder loop: repeatedly merge the lowest-rank
    // adjacent pair present anywhere in the word
    def minRankEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
      val rank = merges.zipWithIndex.toMap
      var syms: IndexedSeq[String] = word.map(_.toString).toVector
      var done = false
      while (!done && syms.length > 1) {
        val present = syms.zip(syms.tail).flatMap(p => rank.get(p).map(p -> _))
        if (present.isEmpty) done = true
        else {
          val (a, b) = present.minBy(_._2)._1
          syms = TextAnalysis.bpeMergePair(syms, a, b)
        }
      }
      syms
    }
    val merges = TextAnalysis.bpeTrain(docs, 24)
    assert(merges.size === 24)
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().as[String].collect()
    for (w <- words)
      assert(TextAnalysis.bpeEncodeWord(w, merges) === minRankEncode(w, merges),
        s"divergence on '$w'")
  }

  test("bpe: distributed encode matches driver encode and compresses") {
    val merges = TextAnalysis.bpeTrain(docs, 16)
    val enc = TextAnalysis.bpeEncode(docs, merges)
      .as[(Long, Seq[String], Int)].collect()
    val txt = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toMap
    for ((id, pieces, n) <- enc) {
      val expect = txt(id).split(" ").iterator.filter(_.nonEmpty)
        .flatMap(w => TextAnalysis.bpeEncodeWord(w, merges)).toSeq
      assert(pieces === expect)
      assert(n === expect.size)
      // merging can only shorten: piece count ≤ char count, ≥ word count
      val nw = txt(id).split(" ").count(_.nonEmpty)
      assert(n >= nw && n <= txt(id).count(_ != ' '))
    }
    // more merges never lengthen any encoding
    val merges8 = merges.take(8)
    val total16 = enc.map(_._3.toLong).sum
    val total8 = txt.valuesIterator
      .flatMap(_.split(" ").iterator.filter(_.nonEmpty))
      .map(w => TextAnalysis.bpeEncodeWord(w, merges8).size.toLong).sum
    assert(total16 <= total8)
  }

  test("bigram NLL: seen continuations score lower than unseen ones") {
    val d = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "the dog ran")) // "the dog"/"dog ran" are 1-count bigrams
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramNll(d)
      .as[(Long, Double)].collect().toMap
    assert(r(1L) === r(2L))
    assert(r(4L) > r(1L)) // rarer bigrams ⇒ higher NLL
    // a doc with a single token has no bigrams and drops out
    val single = TextAnalysis.bigramNll(
      Seq((9L, "lonely")).toDF("doc_id", "text"))
    assert(single.count() === 0)
  }

  test("chunkDocs: full coverage, overlap, short tail") {
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("doc_id", "text")
    val r = Sampling.chunkDocs(d, size = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String, Long)].collect()
    assert(r.filter(_._1 == 1L).map(_._3).toSeq ===
      Seq("a b c d", "d e f g", "g h i j")) // stride 3 ⇒ 1-token overlap
    assert(r.filter(_._1 == 1L).map(_._4).toSeq === Seq(4L, 4L, 4L))
    assert(r.filter(_._1 == 2L).toSeq === Seq((2L, 0L, "x y", 2L)))
    // every token covered: chunk k starts at k*stride, last start + size >= n
    val starts = r.filter(_._1 == 1L).map(_._2 * 3)
    assert(starts.last + 4 >= 10)
    // shuffle-free: pure per-row explode — no Exchange in the plan
    val plan = Sampling.chunkDocs(d, size = 4, stride = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("shuffleShards: dense positions per shard, deterministic") {
    val d = docs.select("doc_id")
    val r = Sampling.shuffleShards(d, "doc_id", nShards = 4)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(r.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    // positions within each shard are exactly 0..count-1
    r.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    val again = Sampling.shuffleShards(d, "doc_id", nShards = 4)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(r.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("incremental near-dups: exact copy matches its corpus original") {
    val corpus = docs.filter($"doc_id" % 5 =!= 0).select("doc_id", "text")
    val planted = corpus.limit(3).withColumn("doc_id", $"doc_id" + 90000)
    val fresh = docs.filter($"doc_id" % 5 === 0).select("doc_id", "text")
      .unionByName(planted)
    val idx = Dedup.lshBandIndex(corpus)
    val csh = Dedup.shingleHashes(corpus).select("id", "h")
    val pairs = Dedup.incrementalNearDups(fresh, idx, csh)
      .select("new_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect()
    val plantedIds = planted.select("doc_id").as[Long].collect().toSet
    // every planted copy matches its original at jaccard 1.0
    plantedIds.foreach { pid =>
      assert(pairs.exists(p => p._1 == pid && p._2 == pid - 90000 && p._3 == 1.0))
    }
    // incremental result over (corpus ∪ fresh) agrees with what the full
    // batch pair set says about cross(new, corpus) pairs
    val all = Dedup.minhashLshPairs(
      corpus.unionByName(fresh), 3, 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val freshIds = fresh.select("doc_id").as[Long].collect().toSet
    val crossFromFull = all.collect {
      case (a, b) if freshIds.contains(b) && !freshIds.contains(a) => (b, a)
      case (a, b) if freshIds.contains(a) && !freshIds.contains(b) => (a, b)
    }
    assert(pairs.map(p => (p._1, p._2)).toSet === crossFromFull)
  }

  test("dropDupWindows: first occurrence survives, later reuse is cut") {
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // exactly one window
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"other text here $boiler trailing words again"),
      (3L, "short doc"), // < w tokens: untouched
      (4L, s"$boiler")) // the whole doc is a later occurrence
      .toDF("doc_id", "text")
    val res = Dedup.dropDupWindows(d, w = 8)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1 holds the first occurrence: fully intact
    assert(res(1L)._2 === s"alpha beta $boiler gamma delta")
    assert(res(1L)._4 === 0L)
    // doc 2's copy is cut, surrounding text survives
    assert(res(2L)._2 === "other text here trailing words again")
    assert(res(2L)._4 === 8L)
    // doc 3 too short for any window: verbatim
    assert(res(3L)._2 === "short doc" && res(3L)._4 === 0L)
    // doc 4 is nothing but a later occurrence: cut to empty
    assert(res(4L)._2 === "" && res(4L)._4 === 8L)
    // corpus-level: clean texts contain no duplicated window anymore
    // (w-grams of the cleaned docs are globally unique)
    val cleaned = res.values.toSeq.map(r => (r._1, r._2)).toDF("doc_id", "text")
    val still = Dedup.dupWindowStats(cleaned, w = 8)
      .agg(sum("n_dup_windows")).as[Long].head()
    assert(still === 0L)
  }

  test("aHash60: identical pixels hash equal, perturbations flip few bits") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
      (4L, "completely different content with other words entirely here"))
      .toDF("doc_id", "text")
    val h = d.withColumn("px_", Multimodal.pixels60($"text"))
      .select($"doc_id", Multimodal.aHash60Of($"px_").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L)) // identical payload → identical hash
    assert(h.values.forall(v => v >= 0L && v < (1L << 60)))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // small perturbation: near hash; different doc: far hash
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("packSequences: bins reassemble every doc in id order") {
    val packed = Sampling.packSequences(docs, "doc_id", "text",
      TextAnalysis.tokenCount($"text"), budgetTokens = 512, nBuckets = 8)
      .select("bin", "n_docs", "n_tokens", "packed")
      .as[(String, Long, Long, String)].collect()
    val bins = Sampling.packBins(docs, "doc_id",
      TextAnalysis.tokenCount($"text"), 512, 8)
      .select($"doc_id", $"bin", $"text").as[(Long, String, String)]
      .collect().groupBy(_._2)
    assert(packed.length === bins.size)
    packed.foreach { case (bin, nDocs, nTokens, text) =>
      val members = bins(bin).sortBy(_._1)
      assert(nDocs === members.length)
      assert(text === members.map(_._3).mkString(" "))
      assert(nTokens === members.map(_._3.split(" ").length.toLong).sum)
    }
  }

  test("stripHtml: blocks dropped, tags stripped, entities unescaped") {
    val d = Seq(
      (1L, "<p>Hi <b>there</b></p><script>x = \"<i>\";</script> A &amp; B"),
      (2L, "no markup"),
      (3L, "&amp;lt; stays escaped-once")).toDF("doc_id", "text")
    val r = d.select($"doc_id", TextAnalysis.stripHtml($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) === "Hi there A & B")
    assert(r(2L) === "no markup")
    assert(r(3L) === "&lt; stays escaped-once") // double-escape unescapes ONE level
  }

  test("blocklistHits: whole-token, case-insensitive, zero when clean") {
    val d = Seq(
      (1L, "the Spark engine is sparkly"), // 'sparkly' must NOT match
      (2L, "totally clean text")).toDF("doc_id", "text")
    val r = d.select($"doc_id",
      TextAnalysis.blocklistHits($"text", Seq("spark", "slow")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(r(1L) === 1 && r(2L) === 0)
  }

  test("urlHosts: extraction, lowercasing, www-strip; no-url docs empty") {
    val d = Seq(
      (1L, "x https://WWW.Example.COM/path?q=1 y http://foo.org z"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val hosts = d.select($"doc_id",
      TextAnalysis.urlHosts($"text").as("h")).as[(Long, Seq[String])]
      .collect().toMap
    assert(hosts(1L) === Seq("example.com", "foo.org"))
    assert(hosts(2L) === Seq.empty)
  }

  test("canonicalUrl: host case/www/slash/tracking/fragment normalization") {
    val cases = Seq(
      // every rule at once
      "https://WWW.Example.com/p/3/?id=3&utm_campaign=c9&gclid=g1#sec9"
        -> "example.com/p/3?id=3",
      // bare host, no path/query
      "http://example.com" -> "example.com",
      // kept params preserve their original order; only tracking drops
      "https://example.com/a?b=2&utm_a=1&c=3" -> "example.com/a?b=2&c=3",
      // all params tracking ⇒ no '?' at all
      "https://example.com/a?utm_a=1&fbclid=f" -> "example.com/a",
      // path case is preserved (RFC 3986: only scheme+host fold)
      "https://Example.com/CaseSensitive" -> "example.com/CaseSensitive")
    val d = cases.zipWithIndex.map { case ((u, _), i) => (i.toLong, u) }
      .toDF("i", "u")
    val got = d.select($"i", TextAnalysis.canonicalUrl($"u").as("c"))
      .as[(Long, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((u, want), i) =>
      assert(got(i.toLong) === want, s"canonicalUrl($u)")
    }
  }

  test("gridQuantiles: cumulative walk hits exact bucket edges") {
    // 100 values 0..99, cell 10 → ten buckets of ten; thresholds are
    // ceil(n·p/100): p50→50 (bucket 4, edge 49), p90→90 (bucket 8,
    // edge 89), p99→99 (bucket 9, edge 99)
    val d = (0L until 100L).map(v => ("g", v)).toDF("grp", "v")
    val got = graft.pipeline.Sketches
      .gridQuantiles(d, "v", "grp", cell = 10)
      .select($"p", $"bucket", $"est", $"n")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(50) === ((50, 4L, 49L, 100L)))
    assert(got(90) === ((90, 8L, 89L, 100L)))
    assert(got(99) === ((99, 9L, 99L, 100L)))
  }

  test("stratifiedSample: exactly ceil(n·num/den) rows per stratum") {
    val d = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    // strata sizes: s0=34, s1=33, s2=33; f=1/4 → quotas 9, 9, 9
    val got = graft.pipeline.Sampling
      .stratifiedSample(d, "doc_id", "src", num = 1, den = 4)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(got === Map("s0" -> 9L, "s1" -> 9L, "s2" -> 9L))
    // determinism: same call → same ids
    val a = graft.pipeline.Sampling
      .stratifiedSample(d, "doc_id", "src", num = 1, den = 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = graft.pipeline.Sampling
      .stratifiedSample(d, "doc_id", "src", num = 1, den = 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // num=den keeps everything
    assert(graft.pipeline.Sampling
      .stratifiedSample(d, "doc_id", "src", num = 1, den = 1).count() === 100L)
  }

  test("zValue16: known interleavings and locality of the curve") {
    val d = Seq((0L, 0L), (255L, 0L), (0L, 255L), (255L, 255L), (3L, 5L))
      .toDF("x", "y")
    val got = d.select($"x", $"y",
      graft.pipeline.Layout.zValue16($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got((0L, 0L)) === 0L)
    assert(got((255L, 0L)) === 0x5555L) // x fills even bit positions
    assert(got((0L, 255L)) === 0xAAAAL) // y fills odd bit positions
    assert(got((255L, 255L)) === 0xFFFFL)
    // x=3 (011) even positions → 1+4=5; y=5 (101) odd positions → 2+32=34
    assert(got((3L, 5L)) === 39L)
  }

  test("hllOverlap: union dominates singles, identical groups overlap fully") {
    // two disjoint vocabularies + one group equal to the first
    val rows =
      (0 until 600).map(i => ("a", s"tok$i")) ++
        (0 until 600).map(i => ("b", s"other$i")) ++
        (0 until 600).map(i => ("c", s"tok$i"))
    val d = rows.toDF("src", "tok")
    val ov = graft.pipeline.Sketches.hllOverlap(d, "tok", "src")
      .select($"g1", $"g2", $"est_union", $"est_inter", $"jacc")
      .as[(String, String, Double, Double, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    val single = graft.pipeline.Sketches.hllDistinct(d, "tok", "src")
      .as[(String, Double)].collect().toMap
    // disjoint pair: union ≈ e1+e2, jaccard near 0
    val (uAb, iAb, jAb) = ov(("a", "b"))
    assert(uAb >= math.max(single("a"), single("b")) - 1e-6)
    assert(jAb < 0.15, s"disjoint vocabularies read jacc=$jAb")
    assert(iAb < 0.2 * uAb)
    // identical pair: union ≈ each single, jaccard near 1
    val (uAc, _, jAc) = ov(("a", "c"))
    assert(math.abs(uAc - single("a")) < 1e-6,
      "a and c have identical registers — union must equal the single")
    assert(jAc > 0.85, s"identical vocabularies read jacc=$jAc")
  }

  test("standardize: per-dimension mean ~0 and variance ~1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val z = graft.pipeline.Similarity.standardize(e)
      .select($"j", $"z").as[(Long, Double)].collect()
    assert(z.nonEmpty)
    z.groupBy(_._1).foreach { case (j, rows) =>
      val xs = rows.map(_._2)
      val mu = xs.sum / xs.length
      val vr = xs.map(v => (v - mu) * (v - mu)).sum / xs.length
      assert(math.abs(mu) < 1e-6, s"dim $j mean $mu")
      assert(math.abs(vr - 1.0) < 1e-6, s"dim $j var $vr")
    }
  }

  test("pca1: projection variance beats every raw axis; sign canonical") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = graft.pipeline.Similarity.pca1Direction(e)
    assert(dir.length === 64)
    // canonical sign: first nonzero component positive
    assert(dir.find(_ != 0).forall(_ > 0))
    // unit-ish on the grid: max |component| = 10000 (the rescale pins it)
    assert(dir.map(math.abs).max === 10000L)
    def variance(xs: Array[Double]): Double = {
      val mu = xs.sum / xs.length
      xs.map(v => (v - mu) * (v - mu)).sum / xs.length
    }
    val proj = graft.pipeline.Similarity.pca1Project(e, dir)
      .select($"pc1").as[Double].collect()
    // ||dir|| on the 1e-4 grid, to compare projection variance per unit
    // direction against raw per-axis variances
    val nrm2 = dir.map(d => d.toDouble / 10000.0).map(d => d * d).sum
    val pvar = variance(proj) / nrm2
    val raw = e.select($"embedding").as[Array[Float]].collect()
    val axisVars = (0 until 64).map(j => variance(raw.map(_(j).toDouble)))
    assert(pvar >= axisVars.max * 0.999,
      s"pc1 variance $pvar below best axis ${axisVars.max}")
    // deterministic across invocations
    assert(graft.pipeline.Similarity.pca1Direction(e).toSeq === dir.toSeq)
  }

  test("budgetAllocations: water-fill saturates small sources, conserves budget") {
    // totals: a=10, b=20, c=100, B=60 → even λ0=20 covers a (10≤20) and
    // b (b: c·(ns−rn+1)=20·2=40 ≤ 60−10=50 ✓); c gets 60−30=30
    val d = Seq.tabulate(10)(i => ("a", 1L)) ++
      Seq.tabulate(10)(i => ("b", 2L)) ++ Seq.tabulate(10)(i => ("c", 10L))
    val df = d.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("id", "src", "ntok")
    val got = graft.pipeline.Sampling
      .budgetAllocations(df, "ntok", "src", budget = 60L)
      .select($"source", $"c_tokens", $"alloc", $"saturated")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") === ((10L, 10L, true)))
    assert(got("b") === ((20L, 20L, true)))
    assert(got("c") === ((100L, 30L, false)))
    // budget ≥ corpus: everything saturates at its own size
    val full = graft.pipeline.Sampling
      .budgetAllocations(df, "ntok", "src", budget = 1000L)
      .select($"alloc").as[Long].collect().sum
    assert(full === 130L)
    // remainder spreads one token each to the first unsaturated sources
    val rem = graft.pipeline.Sampling
      .budgetAllocations(df, "ntok", "src", budget = 62L)
      .select($"source", $"alloc").as[(String, Long)].collect().toMap
    assert(rem("a") === 10L && rem("b") === 20L && rem("c") === 32L)
  }

  test("budgetSample: per-source token mass never exceeds the allocation") {
    val df = (0L until 60L).map(i => (i, s"s${i % 3}", 5L))
      .toDF("id", "src", "ntok")
    val B = 150L // per-source c=100; λ=50 → 10 docs of 5 tokens each
    val kept = graft.pipeline.Sampling
      .budgetSample(df, "ntok", "src", "id", B)
      .groupBy("src").agg(sum($"ntok").as("m"))
      .as[(String, Long)].collect().toMap
    assert(kept.values.forall(_ <= 50L), s"overspent: $kept")
    assert(kept.values.sum === 150L, "greedy prefix should spend the budget")
  }

  test("hllRegistersBy: merge of split halves equals whole (streaming claim)") {
    val d = (0 until 500).map(i => (s"g${i % 2}", s"k$i")).toDF("g", "k")
    val whole = graft.pipeline.Sketches.hllRegistersBy(d, "k", Seq("g"))
      .as[(String, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val (h1, h2) = ((0 until 500).partition(_ % 3 == 0))
    def regsOf(ix: Seq[Int]) = graft.pipeline.Sketches
      .hllRegistersBy(ix.map(i => (s"g${i % 2}", s"k$i")).toDF("g", "k"),
        "k", Seq("g"))
      .as[(String, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val (r1, r2) = (regsOf(h1), regsOf(h2))
    val merged = (r1.keySet ++ r2.keySet).map { k =>
      k -> math.max(r1.getOrElse(k, 0), r2.getOrElse(k, 0))
    }.toMap
    assert(merged === whole,
      "bucket-wise max of partial registers must equal the one-pass state")
  }

  test("gridQuantiles: negative values floor-divide (no toward-zero drift)") {
    // -25..-1 with cell 10: floor division puts -25..-21 in bucket -3
    // (upper edge -21), -20..-11 in -2 (edge -11), -10..-1 in -1 (edge
    // -1). Truncating division would wrongly merge -9..9 into bucket 0.
    // n=25: p50 threshold ceil(25·50/100)=13 → cum reaches 13 in bucket
    // -2 (5+10=15ᵗʰ value is -11's bucket); p99 → 25 → bucket -1.
    val d = (-25L to -1L).map(v => ("g", v)).toDF("grp", "v")
    val got = graft.pipeline.Sketches
      .gridQuantiles(d, "v", "grp", cell = 10, percents = Seq(50, 99))
      .select($"p", $"bucket", $"est", $"n")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(50) === ((50, -2L, -11L, 25L)))
    assert(got(99) === ((99, -1L, -1L, 25L)))
  }

  test("sboNll: seen trigram scores exact ratio, unseen walks the backoff") {
    // train doc (id 0): N=6, V=3; c(abc)=2, c(ab)=2 → P(abc)=1
    // eval doc (id 1): abc seen; bcd + cde back off to the smoothed
    // unigram floor (c(d)=c(e)=0)
    val d = Seq((0L, "a b c a b c"), (1L, "a b c d e")).toDF("doc_id", "text")
    val r = TextAnalysis.sboNll(d)
      .select($"doc_id", $"nll", $"n_backoff")
      .as[(Long, Double, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val (nll, nBackoff) = r(1L)
    assert(nBackoff === 2L)
    val floor = 0.4 * 0.4 * 0.1 / (6 + 0.1 * 3)
    val want = -(math.log(1.0) + 2 * math.log(floor)) / 3
    assert(math.abs(nll - want) < 1e-12, s"nll=$nll want=$want")
  }

  test("softDedupWeights: cluster mass sums to 1, isolates weigh 1.0") {
    // pairs: {1,2,3} one cluster, {5,6} another, 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val d = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(d, pairs)
      .select($"doc_id", $"csize", $"weight")
      .as[(Long, Long, Double)].collect().toSet
    assert(w === Set(
      (1L, 3L, 1.0 / 3), (2L, 3L, 1.0 / 3), (3L, 3L, 1.0 / 3),
      (4L, 1L, 1.0), (5L, 2L, 0.5), (6L, 2L, 0.5)))
    // invariant: total mass = number of distinct contents (clusters)
    assert(math.abs(w.toSeq.map(_._3).sum - 3.0) < 1e-12)
  }

  test("mmrSelect: redundancy penalty diversifies past pure relevance") {
    // query [1,0,0]; a and b are EXACT duplicates (sim 1.0), c trails
    // slightly in relevance but is diverse — pure top-2 is (a,b) on the
    // nid tiebreak; MMR's full-similarity penalty must demote b for c
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),  // a
      (2L, Array(0.9f, 0.1f, 0.0f)),  // b = a
      (3L, Array(0.9f, 0.0f, 0.44f))) // c
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(vecs, queryId = 0L, kCand = 3, k = 2)
      .select($"rank", $"nid").as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1, 1L), (2, 3L)))
  }

  test("clusterStats: perfect clusters give zero inertia, exact counts") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(4.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(4.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterStats(vecs, k = 2, iters = 1)
      .select($"cid", $"n", $"inertia")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((0L, 2L, 0.0), (1L, 2L, 0.0)))
  }

  test("rerankCosine: exact cosine re-ranks the candidate list only") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), // query
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    // candidates deliberately EXCLUDE the best corpus vector (id 1):
    // re-rank must stay within the proposals, proving it never rescans
    val cand = Seq((0L, 2L), (0L, 3L)).toDF("qid", "nid")
    val got = Similarity.rerankCosine(cand, vecs, q, k = 1)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L))) // cos(q,2)≈0.707 beats cos(q,3)=0
  }

  test("hardNegatives: same-label vectors never surface, k honored") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 1),  // query, label 1
      (1L, Array(0.99f, 0.1f), 1), // same label: nearest but EXCLUDED
      (2L, Array(0.9f, 0.2f), 2),
      (3L, Array(0.8f, 0.3f), 2),
      (4L, Array(0.0f, 1.0f), 3)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(vecs, vecs.filter($"vec_id" === 0L),
        k = 2)
      .select($"qid", $"nid", $"neg_label").as[(Long, Long, Int)]
      .collect().toSet
    // top-2 different-label by cosine: 2 then 3 (4 is far); 1 never
    assert(got === Set((0L, 2L, 2), (0L, 3L, 2)))
  }

  test("pl_kl_div: KL non-negative, zero against an identical split") {
    val r = SparkEntry.queries("pl_kl_div")(spark, sf)
      .select($"source", $"kl_nano", $"n_tokens", $"n_vocab")
      .as[(String, Long, Long, Long)].collect()
    assert(r.length === 20)
    r.foreach { case (src, kl, nt, nv) =>
      // Gibbs: KL(p_s || p_corpus) >= 0 (the integer-nano grid can dip
      // one quantum per vocab term below zero at worst)
      assert(kl >= -nv, s"$src kl_nano=$kl below the quantization floor")
      assert(nv <= 31 && nt >= nv, s"$src inconsistent counts")
    }
  }

  test("pl_oov_rate: top-20-of-31 vocab leaves a real OOV share") {
    val r = SparkEntry.queries("pl_oov_rate")(spark, sf)
      .select($"source", $"tot", $"oov", $"oov_pm")
      .as[(String, Long, Long, Long)].collect()
    assert(r.length === 20)
    r.foreach { case (src, tot, oov, pm) =>
      assert(oov > 0 && oov < tot, s"$src degenerate OOV count")
      assert(pm === oov * 10000 / tot, s"$src rate drifted from counts")
    }
  }

  test("inParallel: both chain results returned, failures propagate") {
    // the r16 composite-gate overlap helper: results must be the two
    // builders' own values (not swapped), and a failing chain must
    // surface its original exception to the caller
    // distinct values on purpose: count(range(5)) = 5 vs sum(range(5)) =
    // 10, so a swapped tuple fails (the r16 version used two expressions
    // that both evaluated to 10 — a vacuous "not swapped" check)
    val (a, b) = Dedup.inParallel(
      spark.range(5).count(),
      spark.range(5).selectExpr("sum(id)").as[Long].head())
    assert(a === 5L && b === 10L)
    val boom = intercept[IllegalStateException] {
      Dedup.inParallel[Int, Int](throw new IllegalStateException("left"), 2)
    }
    assert(boom.getMessage === "left")
    // fail-FAST on the SECOND slot: a right-side failure must not wait
    // out a long left chain (the pre-r17 form awaited f1 first), and the
    // surviving chain is stopped before it reaches Spark — its 3 s of
    // pre-Spark work is interrupted, so it never submits its job
    val sc = spark.sparkContext
    val leftJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("pipeline.spec.chain") == "left")
          leftJobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val boom2 = intercept[IllegalStateException] {
        Dedup.inParallel[Long, Int](
          {
            sc.setLocalProperty("pipeline.spec.chain", "left")
            Thread.sleep(3000)
            spark.range(5).count()
          },
          throw new IllegalStateException("right"))
      }
      assert(boom2.getMessage === "right")
      org.apache.spark.ListenerProbe.drain(sc)
      assert(leftJobs.get === 0, "the surviving left chain still ran its job")
    } finally sc.removeSparkListener(listener)
  }

  test("inParallel: cancelling the caller's job group ends both chains") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{JobFailed, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "pipeline-spec-caller"
    val started = new CountDownLatch(2)
    val inGroup = new ConcurrentLinkedQueue[Int]
    val ended = new ConcurrentLinkedQueue[(Int, Boolean)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          inGroup.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobId -> e.jobResult.isInstanceOf[JobFailed])
    }
    // each chain is one job whose tasks would sleep for two minutes
    def longChain(): Long = spark.range(0, 2, 1, 2).as[Long]
      .map { i => Thread.sleep(120000); i }.collect().sum
    var outcome: Either[Throwable, (Long, Long)] = null
    val caller = new Thread(() => {
      sc.setJobGroup(group, "caller", interruptOnCancel = true)
      outcome = try Right(Dedup.inParallel(longChain(), longChain()))
        catch { case t: Throwable => Left(t) }
      sc.clearJobGroup()
    })
    sc.addSparkListener(listener)
    try {
      caller.start()
      assert(started.await(60, TimeUnit.SECONDS),
        "the chains' jobs did not run under the caller's job group")
      sc.cancelJobGroup(group)
      caller.join(60000)
      assert(!caller.isAlive, "cancelling the caller's group did not end the call")
      assert(outcome.isLeft, s"the chains finished: $outcome")
      org.apache.spark.ListenerProbe.drain(sc)
      import scala.jdk.CollectionConverters._
      val jobs = inGroup.asScala.toSet
      val failed = ended.asScala.collect { case (id, true) => id }.toSet
      assert(jobs.subsetOf(failed),
        s"jobs $jobs of the group, cancelled: ${failed & jobs}")
    } finally {
      sc.removeSparkListener(listener)
      if (caller.isAlive) caller.interrupt()
    }
  }

  test("pl_neardup_eval: confusion counts consistent, rates exact") {
    val r = SparkEntry.queries("pl_neardup_eval")(spark, sf)
      .select($"n_truth", $"n_pred", $"tp", $"prec_pm", $"rec_pm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r.length === 1)
    val (nt, np, tp, pr, rc) = r.head
    assert(tp <= nt && tp <= np, "true positives exceed a side")
    assert(pr === tp * 10000 / np && rc === tp * 10000 / nt)
    assert(nt > 0 && np > 0, "degenerate evaluation")
  }

  test("pl_skip_stats: zorder prunes the source predicate, linear can't") {
    val r = SparkEntry.queries("pl_skip_stats")(spark, sf)
      .select($"layout", $"n_files", $"n_hit", $"skip_pm")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq === Seq("length_sorted", "zorder"))
    r.foreach { case (l, nf, nh, pm) =>
      assert(nh <= nf && pm === (nf - nh) * 10000 / nf, s"$l inconsistent")
    }
    val skip = r.map(t => t._1 -> t._4).toMap
    // the whole point: the second dimension only prunes under zorder
    assert(skip("zorder") > skip("length_sorted"),
      "zorder must out-skip the single-dimension sort")
  }

  test("pl_bootstrap: CI brackets the point estimate, replicates complete") {
    val (n, mean, lo, hi, reps) = SparkEntry.queries("pl_bootstrap")(spark, sf)
      .select($"n_docs", $"mean_pm", $"lo_pm", $"hi_pm", $"n_reps")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(n === docs.count() && reps === 50L)
    assert(lo <= mean && mean <= hi, s"CI [$lo,$hi] misses point $mean")
    // Poisson(1) weights keep each replicate near corpus size, so the
    // CI is tight relative to the mean (σ/√n scale, not O(mean))
    assert(hi - lo < mean / 2, s"CI width ${hi - lo} implausibly wide")
    // point estimate is the exact integer per-10k token mean
    val exact = docs.select(size(split($"text", " ")).cast("long").as("x"))
      .agg(sum($"x"), count(lit(1))).as[(Long, Long)].head()
    assert(mean === exact._1 * 10000 / exact._2)
  }

  test("pl_quality_auc: bounds, counts, better than chance on en") {
    val (np, nn, auc) = SparkEntry.queries("pl_quality_auc")(spark, sf)
      .select($"n_pos", $"n_neg", $"auc").as[(Long, Long, Double)].head()
    assert(np + nn === docs.count())
    assert(np === docs.filter($"lang" === "en").count())
    assert(auc >= 0.0 && auc <= 1.0)
    // exactness: the tie-averaged rank recipe must equal the O(n²)
    // pairwise definition (wins + half-ties) on the small corpus
    import graft.pipeline.TextAnalysis
    val scored = TextAnalysis.withTokens(docs)
      .select(($"lang" === "en").as("pos"),
        floor(TextAnalysis.qualityLrScoreOf($"text", $"w_") * 10000
          + 0.5 + 1e-6).cast("long").as("s"))
      .as[(Boolean, Long)].collect()
    val pos = scored.filter(_._1).map(_._2)
    val neg = scored.filterNot(_._1).map(_._2)
    val wins2 = pos.iterator.map(p =>
      2L * neg.count(_ < p) + neg.count(_ == p)).sum
    val brute = wins2.toDouble / (2.0 * pos.length * neg.length)
    assert(math.abs(auc - brute) < 1e-4, s"rank AUC $auc != pairwise $brute")
  }

  test("pl_self_bleu: precisions bounded, duplicated doc maxes out") {
    val r = SparkEntry.queries("pl_self_bleu")(spark, sf)
      .select($"doc_id", $"p1", $"p2", $"bleu")
      .as[(Long, Double, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (id, p1, p2, b) =>
      assert(p1 >= 0 && p1 <= 1 && p2 >= 0 && p2 <= 1, s"doc $id")
      assert(b <= math.max(p1, p2) + 1e-4 && b + 1e-4 >= math.min(p1, p2),
        s"doc $id: geometric mean outside [min,max]")
    }
    // planted near-dups exist → some docs read as highly covered
    assert(r.map(_._4).max > 0.9, "no high-coverage doc in a dup corpus")
  }

  test("gramHashCounts ≡ explode + per-(doc,gram) count under the shared hash") {
    // the typed local-hashmap path (one md5 per DISTINCT gram per doc)
    // must produce exactly the relation the declarative
    // explode → groupBy(doc, md5h60(gram)) → count formulation does —
    // the pl_self_bleu rewrite rests on this equivalence
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 200)
    Seq(1, 2, 3).foreach { n =>
      val got = TextAnalysis.gramHashCounts(d, n)
        .as[(Long, Long, Long)].collect().toSet
      val want = TextAnalysis.withTokens(d)
        .filter(size($"w_") >= n)
        .select($"doc_id",
          explode(TextAnalysis.ngramsOf($"w_", n)).as("g"))
        .groupBy($"doc_id",
          graft.functions.GraftFunctions.md5Hash60($"g").as("h"))
        .agg(count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === want, s"n=$n")
      assert(got.nonEmpty, s"n=$n produced no rows")
    }
  }

  test("unigram Viterbi ≡ brute-force best segmentation; beats greedy") {
    import graft.functions.GraftFunctions.md5Hash60Jvm
    val vocab = PipelineQueries.UnigramVocab
    val keyOf: Map[String, Long] = vocab.map { p =>
      p -> ((500L * p.length + md5Hash60Jvm(p) % 400L) * 128L - 1L)
    }.toMap
    val single = 100L * 128L - 1L
    // exhaustive enumeration of every segmentation into vocab pieces +
    // single chars, maximizing the same additive key
    def brute(w: String): Long = {
      if (w.isEmpty) 0L
      else (1 to math.min(4, w.length)).flatMap { l =>
        val piece = w.substring(0, l)
        val k = if (l == 1) Some(single) else keyOf.get(piece)
        k.map(_ + brute(w.substring(l)))
      }.max
    }
    val words = Seq("window", "customer", "filter", "stream", "xyzq",
      "scan", "a", "aggregate", "partition", "query")
    val df = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextAnalysis.unigramEncode(df, vocab)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    words.zipWithIndex.foreach { case (w, i) =>
      val k = brute(w)
      val np = (128L - k % 128L) % 128L
      val sc = (k + np) / 128L
      val (_, gw, gp, gs) = got(i)
      assert(gw === 1L, s"word $w")
      assert((gp, gs) === ((np, sc)), s"word $w: DP != brute force")
    }
    // Viterbi genuinely differs from greedy longest-match on this
    // vocab: on "query" greedy commits to 'q'+"ue" and strands "ry" as
    // singles, while the DP looks ahead to the better 'q'+'u'+"er"+'y'
    // split — the case that proves this is exact DP, not longest-match
    def greedy(w: String): Long = {
      var i = 0; var k = 0L
      while (i < w.length) {
        val l = (math.min(4, w.length - i) to 2 by -1)
          .find(ll => keyOf.contains(w.substring(i, i + ll))).getOrElse(1)
        k += (if (l == 1) single else keyOf(w.substring(i, i + l)))
        i += l
      }
      k
    }
    assert(greedy("query") != brute("query"),
      "the pinned look-ahead case must separate greedy from Viterbi")
  }

  test("unigram train: top-k substrings, monotone weights, feeds encode") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val trained = TextAnalysis.unigramTrain(d, k = 20)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(trained.length === 20)
    assert(trained.forall { case (_, p, _, _) =>
      p.length >= 2 && p.length <= 4 })
    val ws = trained.map(_._3)
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b },
      "weights must be non-increasing by rank")
    // the exact-integer log2 surrogate: score = 200·len + 32·bits(weight)
    trained.foreach { case (_, p, w, s) =>
      assert(s === 200L * p.length +
        32L * java.lang.Long.toBinaryString(w).length, s"piece $p")
    }
    // closing the loop: the trained vocabulary drives the Viterbi encoder
    val enc = TextAnalysis.unigramEncode(d, trained.map(_._2).toSeq)
      .agg(sum($"n_pieces")).as[Long].head()
    assert(enc > 0L)
  }

  test("mm resize: nearest-neighbor index map is exact") {
    import graft.pipeline.Multimodal
    val df = Seq((1L, (0 until 64).toArray)).toDF("id", "px")
    val out = df.select(
      Multimodal.resizeNearestOf($"px", 8, 8, 4, 4).as("rp"))
      .as[Seq[Int]].head()
    // out (y,x) reads src (2y, 2x) of the row-major 0..63 ramp
    val expect = for (y <- 0 until 4; x <- 0 until 4) yield (2 * y) * 8 + 2 * x
    assert(out === expect)
    // identity resize is a no-op
    val same = df.select(
      Multimodal.resizeNearestOf($"px", 8, 8, 8, 8).as("rp"))
      .as[Seq[Int]].head()
    assert(same === (0 until 64))
  }

  test("pl_langid_eval: shares partition each truth language, en dominates en") {
    val r = SparkEntry.queries("pl_langid_eval")(spark, sf)
      .select($"lang", $"lang_pred", $"n", $"share_pm")
      .as[(String, String, Long, Long)].collect()
    assert(r.nonEmpty)
    // per truth language the confusion counts cover every doc once
    val byLang = r.groupBy(_._1)
    val truth = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_._3).sum === truth(lang), s"$lang counts drifted")
      assert(rows.map(_._4).sum <= 10000, s"$lang shares exceed 100%")
    }
    // the en stopword profile must recover most English docs
    val en = byLang("en")
    val enCorrect = en.find(_._2 == "en").map(_._4).getOrElse(0L)
    assert(enCorrect > 5000, s"en recall $enCorrect per-10k too low")
  }

  test("pl_ccnet_bucket: terciles balanced, head has the lowest NLL") {
    val r = SparkEntry.queries("pl_ccnet_bucket")(spark, sf)
      .select($"doc_id", $"nll", $"bucket")
      .as[(Long, Double, String)].collect()
    assert(r.length === SparkEntry.queries("pl_bigram_nll")(spark, sf).count())
    val sizes = r.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet === Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // ordering: every head NLL <= every tail NLL
    assert(r.filter(_._3 == "head").map(_._2).max <=
      r.filter(_._3 == "tail").map(_._2).min)
  }

  test("pl_silhouette: scores in [-1,1], counts match cluster stats") {
    val r = SparkEntry.queries("pl_silhouette")(spark, sf)
      .select($"cid", $"n", $"sil").as[(Long, Long, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (cid, n, s) =>
      assert(n >= 1 && s >= -1.0 && s <= 1.0, s"cluster $cid out of range")
    }
    val stats = SparkEntry.queries("pl_cluster_stats")(spark, sf)
      .select($"cid", $"n").as[(Long, Long)].collect().toMap
    assert(r.map(t => t._1 -> t._2).toMap === stats, "membership drifted")
  }

  test("pl_neardup_edit: scores bounded, identical texts score 10000") {
    val r = SparkEntry.queries("pl_neardup_edit")(spark, sf)
      .select($"id1", $"id2", $"lev", $"sim_pm")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (i1, i2, lev, pm) =>
      assert(i1 < i2 && lev >= 0 && pm >= 0 && pm <= 10000)
      assert((lev == 0) == (pm == 10000), "zero distance iff full score")
    }
    // hand case: one substitution in a 10-char text
    val d = Seq((1L, "abcdefghij"), (2L, "abcdefghiX")).toDF("doc_id", "text")
    val p = Seq((1L, 2L)).toDF("id1", "id2")
    val v = Dedup.editVerify(d, p).as[(Long, Long, Long, Long)].head()
    assert(v === ((1L, 2L, 1L, 9000L)))
  }

  test("pl_heaps: cumulative counts monotone, vocab concave vs tokens") {
    val r = SparkEntry.queries("pl_heaps")(spark, sf)
      .select($"bucket", $"n_docs", $"n_tokens", $"vocab")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq === (1L to 10L))
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2 && b._3 > a._3 && b._4 >= a._4, "not monotone")
    }
    val last = r.last
    assert(last._2 === docs.count())
    assert(last._4 <= last._3, "vocab cannot exceed token count")
    // Heaps: second-half vocab growth is slower than first-half
    assert(last._4 - r(4)._4 < r(4)._4, "no sub-linear vocab growth")
  }

  test("pl_zipf: slope negative and in the Zipf range") {
    val (n, slope, icept) = SparkEntry.queries("pl_zipf")(spark, sf)
      .select($"n_terms", $"slope", $"intercept")
      .as[(Long, Double, Double)].head()
    // n = min(topK, |vocab|) — the synthetic corpus has ~31 tokens
    val vocab = docs.select(explode(split($"text", " "))).distinct().count()
    assert(n === math.min(100L, vocab))
    assert(slope < 0.0, "rank-frequency slope must be negative")
    assert(slope > -3.0 && icept > 0.0)
  }

  test("pl_kn_nll: per-doc NLL positive, skip accounting consistent") {
    val r = SparkEntry.queries("pl_kn_nll")(spark, sf)
      .select($"doc_id", $"n_scored", $"n_skip", $"nll")
      .as[(Long, Long, Long, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (id, ns, sk, nll) =>
      assert(id % 2 === 1, "only held-out docs are scored")
      assert(ns >= 1 && sk >= 0)
      assert(nll >= 0.0, s"doc $id: P>1 impossible under KN")
    }
    // discounting: KN must behave like a proper LM — mean NLL within
    // a sane band for this corpus (ln V ~ ln 30 ≈ 3.4 is the ceiling
    // for a uniform model over the planted vocabulary)
    val mean = r.map(_._4).sum / r.length
    assert(mean > 0.5 && mean < 6.0, s"mean NLL $mean out of band")
  }

  test("pl_distinct_n: diversity bounded, bigrams more diverse than unigrams") {
    val r = SparkEntry.queries("pl_distinct_n")(spark, sf)
      .select($"source", $"t1", $"d1", $"dist1_pm", $"t2", $"d2", $"dist2_pm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(r.length === 20)
    r.foreach { case (src, t1, d1, pm1, t2, d2, pm2) =>
      assert(d1 <= t1 && d2 <= t2, s"$src distinct exceeds total")
      assert(pm1 === d1 * 10000 / t1 && pm2 === d2 * 10000 / t2,
        s"$src rate drifted")
      // 31-word vocab: the bigram space is far larger, so distinct-2
      // must beat distinct-1 on this corpus
      assert(pm2 > pm1, s"$src dist2 $pm2 <= dist1 $pm1")
    }
  }

  test("pl_bigram_cov: coverage strictly partial, rate matches counts") {
    val r = SparkEntry.queries("pl_bigram_cov")(spark, sf)
      .select($"source", $"tot", $"seen", $"cov_pm")
      .as[(String, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (src, tot, seen, pm) =>
      assert(seen <= tot, s"$src seen > tot")
      assert(pm === seen * 10000 / tot, s"$src rate drifted")
    }
    // the split must leave SOME novelty somewhere, and some coverage
    assert(r.exists(t => t._3 < t._2) || r.exists(t => t._3 > 0))
  }

  test("pl_curriculum: phases are contiguous in score order, cum exact") {
    val r = SparkEntry.queries("pl_curriculum")(spark, sf)
      .select($"doc_id", $"score", $"n_tokens", $"cum_tokens", $"phase")
      .as[(Long, Double, Long, Long, Long)].collect()
    assert(r.length === 500)
    val ordered = r.sortBy(t => (-t._2, t._1))
    var cum = 0L
    ordered.foreach { case (id, _, n, c, p) =>
      assert(c === cum + n, s"doc $id cumulative sum broken")
      assert(p === cum / 20000, s"doc $id phase off its start slab")
      cum = c
    }
    // phases must be non-decreasing along the curriculum order
    assert(ordered.map(_._5).sliding(2).forall(w => w(0) <= w(1)))
  }

  test("pairsOf: exact C(c,2) where IEEE double division rounds") {
    // c large enough that c·(c−1) exceeds 2^53 (double mantissa) but
    // stays under int64: the shiftright form must equal BigInt truth;
    // the old double-division form provably drifts here
    val cs = Seq(3037000499L /* max int64-safe c */ , 200000003L, 7L, 1L, 0L)
    val got = cs.toDF("c").select(Dedup.pairsOf($"c").as("p"))
      .as[Long].collect().toSeq
    val want = cs.map(c => (BigInt(c) * (BigInt(c) - 1) / 2).toLong)
    assert(got === want)
    val viaDouble = cs.map(c => ((c.toDouble * (c - 1).toDouble) / 2).toLong)
    assert(viaDouble !== want) // the bug this guards against is real
  }

  test("pl_ngram_novelty: first doc fully novel, rates exact, totals tie out") {
    val r = SparkEntry.queries("pl_ngram_novelty")(spark, sf)
      .select($"doc_id", $"n_grams", $"n_novel", $"novelty_pm")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    val first = r.minBy(_._1)
    assert(first._3 === first._2 && first._4 === 10000L,
      "earliest doc must be 100% novel")
    r.foreach { case (id, g, nv, pm) =>
      assert(nv <= g && g > 0, s"doc $id counts inconsistent")
      assert(pm === nv * 10000 / g, s"doc $id rate drifted")
    }
    // every distinct (hashed) shingle is novel in exactly one doc
    val distinctShingles = Dedup.shingleHashes(docs).select("hp")
      .distinct().count()
    assert(r.map(_._3).sum === distinctShingles)
    // and the hash space is collision-free on this corpus, so the
    // hashed count equals the distinct shingle-string count
    assert(distinctShingles ===
      Dedup.shingles(docs).select("shingle").distinct().count())
  }

  test("pl_dup_inflation: inflation >= 1, doc totals tie out") {
    val r = SparkEntry.queries("pl_dup_inflation")(spark, sf)
      .select($"source", $"n_docs", $"total_chars", $"uniq_chars",
        $"inflation_pm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(r.map(_._2).sum === docs.count())
    r.foreach { case (src, n, tot, uniq, pm) =>
      assert(uniq <= tot, s"$src unique chars exceed total")
      assert(pm >= 10000L, s"$src inflation below 1x")
      assert(pm === tot * 10000 / uniq, s"$src rate drifted")
    }
    // total chars across sources must equal the raw corpus char count
    val totalChars = docs.select(sum(length($"text"))).as[Long].head()
    assert(r.map(_._3).sum === totalChars)
  }

  test("pl_tok_fertility: >= 1 piece per word, pieces tie out to pl_bpe") {
    val r = SparkEntry.queries("pl_tok_fertility")(spark, sf)
      .select($"source", $"n_words", $"n_pieces", $"fertility_pm")
      .as[(String, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (src, w, p, pm) =>
      assert(p >= w, s"$src encoded below 1 piece/word")
      assert(pm === p * 10000 / w, s"$src rate drifted")
    }
    // total pieces must equal pl_bpe's per-doc encoding of the corpus
    val bpeTotal = SparkEntry.queries("pl_bpe")(spark, sf)
      .select(sum($"n_pieces")).as[Long].head()
    assert(r.map(_._3).sum === bpeTotal)
  }

  test("pl_cross_source_leak: unordered source pairs, total ties to truth") {
    val r = SparkEntry.queries("pl_cross_source_leak")(spark, sf)
      .select($"src1", $"src2", $"n_pairs")
      .as[(String, String, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (a, b, n) =>
      assert(a <= b, "source pair not canonical")
      assert(n > 0)
    }
    assert(r.map(t => (t._1, t._2)).distinct.length === r.length)
    val pairs = Dedup.minhashLshPairs(docs, 3, 0.8).count()
    assert(r.map(_._3).sum === pairs)
    // on this corpus LSH recall is total, so the count also ties to truth
    assert(pairs === Dedup.ngramJaccardPairs(docs, 3, 0.8).count())
  }

  test("materializing operators leave no cache behind once the caller unpersists") {
    import graft.pipeline.{Retrieval, Sketches}
    val qs = Seq("q1" -> "spark window join", "q2" -> "slow query filter")
      .toDF("qid", "qtext")
    // at least one operator per module; the Dedup ones cover the nested
    // scopes (label chains, pair inputs released downstream, inParallel)
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "Dedup.prefixFilterPairs" -> (() => Dedup.prefixFilterPairs(docs)),
      "Dedup.incrementalNearDups" -> (() => Dedup.incrementalNearDups(
        docs.filter($"doc_id" % 5 === 0),
        Dedup.lshBandIndex(docs.filter($"doc_id" % 5 =!= 0)),
        Dedup.shingleHashes(docs.filter($"doc_id" % 5 =!= 0)))),
      "Dedup.softDedupWeights" -> (() =>
        Dedup.softDedupWeights(docs, Dedup.simhashPairs(docs))),
      "Dedup.clusterAgreement" -> (() => Dedup.clusterAgreement(docs,
        Dedup.minhashLshPairs(docs), Dedup.simhashPairs(docs))),
      "Retrieval.bm25TopK" -> (() => Retrieval.bm25TopK(docs, qs, k = 3)),
      "Retrieval.textRank" -> (() => Retrieval.textRank(docs)),
      "Similarity.semanticDedup" -> (() =>
        Similarity.semanticDedup(emb, k = 4, iters = 2, threshold = 0.3)),
      "Similarity.ivfPqKnn" -> (() =>
        Similarity.ivfPqKnn(emb, emb.filter($"vec_id" < 3), k = 2)),
      "Sketches.cmsHeavyHitters" -> (() => Sketches.cmsHeavyHitters(docs)),
      "TextAnalysis.tfidfKeywords" -> (() => TextAnalysis.tfidfKeywords(docs)),
      "TextAnalysis.unigramNll" -> (() => TextAnalysis.unigramNll(docs)),
      "TextAnalysis.bigramNll" -> (() => TextAnalysis.bigramNll(docs)),
      "TextAnalysis.sboNll" -> (() => TextAnalysis.sboNll(docs)),
      "TextAnalysis.knNll" -> (() => TextAnalysis.knNll(docs)),
      "TextAnalysis.heapsGrowth" -> (() => TextAnalysis.heapsGrowth(docs)),
      "Dedup.bloomDecontaminate" -> (() => Dedup.bloomDecontaminate(
        docs.filter($"doc_id" % 13 =!= 0), docs.filter($"doc_id" % 13 === 0))),
      "Dedup.simhashPairsAuto" -> (() => Dedup.simhashPairsAuto(docs)),
      // a lazy result: collapse keeps its drop frame in the caller's scope
      "Dedup.collapse" -> (() => CacheScope.eager { cache =>
        Dedup.collapse(cache, docs, cache.keep(Dedup.minhashLshPairs(docs)))
      }))
    ops.foreach { case (name, op) =>
      val before = cacheState()
      val out = op()
      assert(out.storageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        s"$name: result not materialized in cache")
      out.unpersist()
      assertNoCacheBeyond(before, name)
    }
  }

  test("a materializing operator that fails releases what it cached") {
    import graft.pipeline.{Retrieval, Sketches}
    // every row fails on evaluation, i.e. inside the operator's first
    // action — after it has cached its intermediates
    val failing = expr("assert_true(doc_id < 0) IS NULL")
    val badDocs = docs.filter(failing)
    val badEmb = emb.withColumnRenamed("vec_id", "doc_id").filter(failing)
      .withColumnRenamed("doc_id", "vec_id")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "Dedup.prefixFilterPairs" -> (() => Dedup.prefixFilterPairs(badDocs)),
      "Retrieval.textRank" -> (() => Retrieval.textRank(badDocs)),
      "Similarity.kmeans" -> (() => Similarity.kmeans(badEmb, k = 4, iters = 2)),
      "Sketches.cmsHeavyHitters" -> (() => Sketches.cmsHeavyHitters(badDocs)))
    ops.foreach { case (name, op) =>
      val before = cacheState()
      intercept[Exception](op())
      assertNoCacheBeyond(before, s"failed $name")
    }
  }
}
