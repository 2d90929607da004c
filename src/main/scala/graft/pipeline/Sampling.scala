package graft.pipeline

import graft.functions.GraftFunctions.{md5Hash60, quant4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training-data
  * pipelines. Everything derives from a salted md5 bucket of the row id
  * — per-row, embarrassingly parallel, reproducible across engines and
  * runs (unlike `DataFrame.sample`, whose outcome depends on partitioning
  * and seed plumbing), and stable under data growth: a row's split never
  * changes when other rows are added.
  */
object Sampling {

  /** Salted bucket in [0, 10000): `md5_60(id || "_" || salt) % 10000`. */
  def bucket(id: Column, salt: String): Column =
    pmod(md5Hash60(concat(id.cast("string"), lit("_" + salt))), lit(10000L))

  /** Assign every row a named split by cumulative weight over the salted
    * bucket — e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`.
    * Weights need not sum to 1: the final split absorbs the remainder.
    */
  def assignSplits(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    require(weights.nonEmpty, "at least one split")
    val b = bucket(col(idCol), salt)
    val cuts = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail
    val chain = weights.zip(cuts).dropRight(1)
      .foldRight(lit(weights.last._1): Column) {
        case (((name, _), cut), rest) => when(b < cut, name).otherwise(rest)
      }
    df.withColumn("split", chain)
  }

  /** EXACT-count stratified sample: from every stratum keep exactly
    * `ceil(n·num/den)` rows — the rows with the smallest salted hash
    * (id tiebreak). [[deterministicSample]]'s bucket filter hits the
    * fraction only in expectation (binomial noise per stratum — ±3%
    * at n=10⁴); evaluation and mixture builds need the per-stratum
    * count to be exact, which takes a rank, not a threshold.
    *
    * The quota test is pure integer arithmetic (`rn·den ≤ n·num+den−1`
    * ⇔ `rn ≤ ceil(n·num/den)`) — no float fraction, so no
    * `ceil(0.8·5)=5` IEEE edge and no cross-engine drift. One
    * rank-window per stratum; at 100 TB strata sort independently and
    * per-task state is a row_number counter, not the stratum.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      num: Int, den: Int, salt: String = "strat"): DataFrame = {
    require(num >= 0 && den > 0, "fraction num/den with den > 0")
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5Hash60(concat(col(idCol).cast("string"), lit("_" + salt))),
        col(idCol))
    df.withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(stratumCol)))
      .filter(col("_rn") * den <= col("_n") * num + (den - 1))
      .drop("_rn", "_n")
  }

  /** Keep a deterministic `fraction` of rows (bucket < fraction·10⁴). */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = "sample"): DataFrame =
    df.filter(bucket(col(idCol), salt) < math.round(fraction * 10000))

  /** Temperature-weighted mixture resampling (the multilingual/UniMax
    * balancing rule): per-source sampling rates derive from the corpus
    * itself as `e_s = N·c_s^(1/T) / (Σ_u c_u^(1/T) · c_s)` — T=1
    * reproduces the natural distribution, T→∞ approaches uniform
    * per-source budgets, in between down-weights the head the way
    * multilingual LM data mixes do. Rates land on the 1e-4 grid (the
    * per-source `c^(1/T)` terms quantize to integers BEFORE the
    * normalizing sum, so it is order-free), then the standard
    * [[mixtureSample]] whole-copies + salted-fractional-epoch machinery
    * applies. The only driver state is one row per source — the same
    * bounded contract as mixtureSample's rates map.
    */
  def temperatureMixture(df: DataFrame, sourceCol: String, idCol: String,
      temperature: Double = 2.0, salt: String = "mixT"): DataFrame = {
    require(temperature > 0, "temperature > 0")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val n = counts.map(_._2).sum
    val invT = 1.0 / temperature
    val powq = counts.map { case (s, c) => s -> quant4(math.pow(c.toDouble, invT)) }
      .toMap
    val spq = powq.values.sum
    val rates = counts.map { case (s, c) =>
      s -> (quant4((n.toDouble * powq(s)) / (spq.toDouble * c)) / 10000.0)
    }.toMap
    mixtureSample(df, sourceCol, idCol, rates, defaultRate = 0.0, salt)
  }

  /** Weighted mixture resampling — compose a training mix from per-source
    * rates (the "epochs" column of published LM mixture tables): rate ≤ 1
    * keeps a deterministic rate-fraction of the source; rate > 1 emits
    * `floor(rate)` whole copies plus a deterministically-sampled
    * fractional epoch. Copies carry a 0-based `epoch` column so a
    * downstream shuffle can salt repeats apart. Per-row and
    * embarrassingly parallel — a row's copy count depends only on
    * (id, salt, its source's rate), so the mix is reproducible and
    * stable under corpus growth; the threshold is integer basis points
    * of the fractional part, IEEE-identical across engines.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      salt: String = "mix"): DataFrame = {
    require(rates.values.forall(_ >= 0) && defaultRate >= 0, "rates >= 0")
    val rate = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
        when(col(sourceCol) === s, lit(r)).otherwise(acc)
      }
    val whole = floor(rate).cast("long")
    val thr = floor((rate - floor(rate)) * 10000)
    val copies = whole +
      when(bucket(col(idCol), salt) < thr, 1L).otherwise(0L)
    df.withColumn("copies_", copies)
      .filter(col("copies_") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("copies_") - 1)))
      .drop("copies_")
  }

  /** Token-budget WATER-FILLING across sources: split a global token
    * budget `B` so every source gets an equal share λ, except sources
    * smaller than λ, which are taken whole and their leftover re-split
    * among the rest (the "give me 1B tokens, don't over-drain small
    * domains" allocator behind published LM data mixes). The fill level
    * is found by one ordered scan over per-source totals: in ascending
    * `c` order, source `i` saturates iff even-splitting what remains
    * after all smaller sources covers it — saturation is prefix-closed,
    * so the scan is one cumulative window. Integer division throughout;
    * the `mod` remainder goes one token each to the lexicographically
    * first unsaturated sources, so the allocation is a pure function of
    * the totals — any engine replays it.
    *
    * Returns one row per source: `(source, c_tokens, alloc, saturated)`
    * with `Σ alloc = min(B, Σ c_tokens)`.
    *
    * 100 TB shape: the only corpus-wide work is the per-source token
    * sum (map-side combined); the water-fill itself runs over
    * |sources| rows — window functions on a frame the size of the
    * domain list.
    */
  def budgetAllocations(df: DataFrame, tokenCol: String, sourceCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget >= 0")
    val totals = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(tokenCol)).cast("long").as("c"))
    val w = Window.orderBy(col("c"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val scan = totals
      .withColumn("rn", row_number().over(Window.orderBy(col("c"), col("source"))))
      .withColumn("pfx", sum(col("c")).over(w))
      .withColumn("ns", count(lit(1)).over(wAll))
      // source rn saturates iff c ≤ (B − prefix-before-it) div (sources from it on)
      .withColumn("sat",
        col("c") * (col("ns") - col("rn") + 1) <=
          lit(budget) - (col("pfx") - col("c")))
    val kRow = scan.agg(
      sum(when(col("sat"), 1L).otherwise(0L)).as("K"),
      sum(when(col("sat"), col("c")).otherwise(0L)).as("PK"),
      max(col("ns")).as("S"))
    // λ = (B − P_K) div (S − K); remainder r spreads one token each to
    // the r lexicographically-first unsaturated sources
    // λ via exact integer floor division: subtract the pmod first so the
    // double division is a representable-integer / k — never a rounding
    // at an integer boundary (both engines then agree bit-for-bit)
    val d = lit(budget) - col("PK")
    val k = col("S") - col("K")
    val params = kRow.select(
      col("K"), col("S"),
      when(col("S") > col("K"), ((d - pmod(d, k)) / k).cast("long"))
        .otherwise(lit(0L)).as("lam"),
      when(col("S") > col("K"), pmod(d, k)).otherwise(lit(0L))
        .cast("long").as("r"))
    val wName = Window.orderBy(col("source"))
    scan.crossJoin(broadcast(params))
      .withColumn("unsatRank",
        sum(when(col("sat"), 0L).otherwise(1L)).over(
          wName.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("alloc",
        when(col("sat"), col("c"))
          .otherwise(col("lam") +
            when(col("unsatRank") <= col("r"), 1L).otherwise(0L)))
      .select(col("source"), col("c").as("c_tokens"), col("alloc"),
        col("sat").as("saturated"))
  }

  /** Apply [[budgetAllocations]]: per source, take documents in salted-
    * hash order until the next one would exceed the source's allocation
    * (greedy prefix — deterministic, one rank window per source).
    * Returns the kept rows with their token count.
    */
  def budgetSample(df: DataFrame, tokenCol: String, sourceCol: String,
      idCol: String, budget: Long, salt: String = "budget"): DataFrame = {
    val alloc = budgetAllocations(df, tokenCol, sourceCol, budget)
      .select(col("source").as(sourceCol), col("alloc"))
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5Hash60(concat(col(idCol).cast("string"), lit("_" + salt))),
        col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(alloc), sourceCol)
      .withColumn("_ctok", sum(col(tokenCol)).over(w))
      .filter(col("_ctok") <= col("alloc"))
      .drop("_ctok", "alloc")
  }

  /** Keep at most `maxPerKey` rows per key, chosen deterministically by
    * salted md5 rank (doc id tie-break) — the per-host document cap of
    * web-corpus pipelines, reproducible across runs and engines. One
    * shuffle on the key; rank-then-filter means only `maxPerKey` rows
    * per key survive the window, and a skewed key costs one partition's
    * scan, not a blowup. (For pathological single-key skew, pre-filter
    * with an approximate per-key count and salt — not needed while keys
    * are hosts/sources with bounded fan-in.)
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      maxPerKey: Int, salt: String = "cap"): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(bucket(col(idCol), salt), col(idCol))
    df.withColumn("rk_", row_number().over(w))
      .filter(col("rk_") <= maxPerKey)
      .drop("rk_")
  }

  /** Split every document into fixed-size token chunks with overlap —
    * the context-window shaping pass before tokenization/packing. Chunk
    * k covers tokens `[k·stride, k·stride + size)`; the last chunk may
    * be short, and every token is covered (`stride ≤ size` gives
    * `size − stride` tokens of overlap between neighbors). Pure per-row
    * array math (`sequence` + `slice`): embarrassingly parallel, no
    * shuffle at any scale. Output: one row per chunk with 0-based
    * `chunk_id`, the chunk text, and its token count.
    */
  def chunkDocs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", size: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && stride <= size, "1 <= stride <= size")
    val w = split(col(textCol), " ")
    val n = org.apache.spark.sql.functions.size(w).cast("long")
    // integer ceil: chunks = ceil(max(n - size, 0) / stride) + 1
    val nChunks =
      floor((greatest(n - size, lit(0L)) + (stride - 1)) / stride).cast("long") + 1
    df.withColumn("w_", w)
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ",
          slice(col("w_"), (col("chunk_id") * stride + 1).cast("int"),
            lit(size)))
          .as("chunk"),
        least(lit(size.toLong), n - col("chunk_id") * stride).as("n_tokens"))
  }

  /** Materialize the packed training sequences from [[packBins]]'s
    * assignment: concatenate each bin's documents in id order — the step
    * that turns bin membership into the actual fixed-budget sequences a
    * trainer reads. One map-side-combined aggregation on the bin key;
    * each group holds ~`budgetTokens` tokens of text by construction, so
    * no group can blow a task (the window in [[packBins]] already
    * bounded it). Output: one row per bin with the packed text, its doc
    * count and token total.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      tokens: Column, budgetTokens: Long, nBuckets: Int = 256,
      salt: String = "pack", joiner: String = " "): DataFrame =
    packBins(df, idCol, tokens, budgetTokens, nBuckets, salt)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokens.cast("long")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(col(idCol).cast("long").as("id"), col(textCol).as("t")))),
            s => s("t")),
          joiner).as("packed"))

  /** Deterministic corpus shuffle into training shards: each doc hashes
    * to one of `nShards` shards, ordered within its shard by a salted
    * md5 key — the reproducible global-shuffle pass that breaks source
    * ordering before training. One exchange on the shard id; the
    * within-shard ordering window parallelizes across shards, so pick
    * `nShards` ≥ cluster parallelism (shards are typically 256–4096 at
    * 100 TB — each window partition is then corpus/nShards rows).
    * Stable under corpus growth only in shard ASSIGNMENT (positions
    * shift as docs arrive — inherent to dense positions).
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, "nShards >= 1")
    val key = md5Hash60(concat(col(idCol).cast("string"), lit("_" + salt)))
    val w = Window.partitionBy(col("shard")).orderBy(col("key_"), col(idCol))
    df.withColumn("key_", key)
      .withColumn("shard", pmod(col("key_"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .drop("key_")
  }

  /** Sequence packing: assign each doc a pack-bin so every bin holds
    * ~`budgetTokens` tokens — the grouping step before concatenating
    * documents into fixed-length training sequences. Docs are spread
    * over `nBuckets` salted buckets and packed by running token total
    * within each bucket (window partitioned by bucket ⇒ parallel across
    * the cluster; nothing global). Deterministic: same corpus ⇒ same
    * bins. Output adds `bucket` and `bin` ("<bucket>_<k>").
    */
  def packBins(df: DataFrame, idCol: String, tokens: Column,
      budgetTokens: Long, nBuckets: Int = 256,
      salt: String = "pack"): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("bucket",
        pmod(md5Hash60(concat(col(idCol).cast("string"), lit("_" + salt))),
          lit(nBuckets.toLong)))
      .withColumn("cum_",
        coalesce(sum(tokens.cast("long")).over(w), lit(0L)))
      .withColumn("bin",
        concat_ws("_", col("bucket"), expr(s"cum_ div $budgetTokens")))
      .drop("cum_")
  }
}
