package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CharLmFunctions, CharLmModel}

/** Perplexity-based document quality filtering with a character-trigram
  * language model — the CC-Net recipe (Wenzek et al. 2019,
  * arXiv:1911.00359): fit a small LM on a trusted slice of the corpus,
  * then score every document by how surprising the model finds it; low
  * average negative-log-likelihood ≈ in-domain, fluent text, high ≈
  * boilerplate, gibberish, or wrong-language. dask-glm has no text
  * surface — this is north-star pipeline scope (SURVEY §2 addendum).
  *
  * Three stages, split exactly where a 100 TB run wants the boundaries:
  *
  *  1. [[trainCounts]] — LAZY plan: one scan of the training slice,
  *     per-document trigram explode, count aggregation (map-side partial
  *     combine bounds the shuffle at the distinct-trigram vocabulary,
  *     which is charset-bounded, not corpus-bounded), then a
  *     deterministic distributed top-K (`TakeOrderedAndProject` — no
  *     single-partition window) capping the model at `maxVocab` rows.
  *  2. [[fit]] — the bounded index build: collect ≤ maxVocab (tri, count)
  *     rows to the driver (the same O(model) collect discipline as
  *     [[Similarity]] codebook loads), convert to nanonat log-probs with
  *     add-one smoothing, and wrap in a [[CharLmModel]].
  *  3. [[score]] — LAZY plan again: a single embarrassingly-parallel
  *     projection; the model rides ONE torrent broadcast and each
  *     document is scored by the fused [[graft.functions.CharLmScore]]
  *     codegen kernel (no explode, no join, no shuffle at score time).
  *
  * Determinism (hash-checked against the DuckDB oracle, q115):
  *  - top-K vocabulary cut is totally ordered by (count DESC, trigram
  *    ASC) — unique because trigrams are distinct;
  *  - per-trigram log-probs are fixed to integer NANONATS on the driver
  *    (`round(ln(p)·1e9)` half-away-from-zero = the oracle's
  *    `CAST(ROUND(LN(...)*1e9) AS BIGINT)`), so documents sum `long`s —
  *    partition order can never perturb a sum the way double addition
  *    would;
  *  - the final average NLL is ONE IEEE division + `round(_, 6)`, both
  *    correctly-rounded operations computing identically in both engines.
  *
  * Broadcast lifecycle: [[score]] creates one broadcast per fitted model
  * per call; callers scoring many batches against the same model should
  * reuse the broadcast via the `(DataFrame, Broadcast)` overload and
  * `destroy()` it when the model is retired (same lifecycle note as
  * [[Similarity]] index broadcasts).
  */
object CharLm {

  /** Default vocabulary cap — comfortably above any natural-language
    * trigram vocabulary for one script, small enough that the driver
    * collect and the broadcast stay trivially bounded. */
  val DefaultMaxVocab: Int = 65536

  /** Trigram counts of the training slice, capped to the `maxVocab` most
    * frequent (ties broken by trigram ascending — a total order, so the
    * cut is deterministic at any partitioning). Lazy; one scan. */
  def trainCounts(
      train: DataFrame, textCol: String = "text",
      maxVocab: Int = DefaultMaxVocab, order: Int = 3): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    train
      .select(explode(CharLmFunctions.charNgrams(col(textCol), order)).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c"))
      // global sort + limit ⇒ TakeOrderedAndProject: per-partition top-K
      // then a driver merge of K-row heads — NOT a single-partition sort
      .orderBy(col("c").desc, col("tri").asc)
      .limit(maxVocab)
  }

  /** Materialize a counts plan (from [[trainCounts]], or a persisted
    * counts table re-read from parquet) into a scoring model. The collect
    * is bounded by the cap baked into the counts plan. */
  def fit(counts: DataFrame): CharLmModel = {
    val rows = counts.select(col("tri").cast("string"), col("c").cast("long")).collect()
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(1) >= 1,
        "CharLm.fit: counts table has a NULL gram/count or a count < 1 " +
          "— not a trainCounts (or persisted trainCounts) output")
    }
    fitLocal(rows.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  /** The driver-side fit core shared by [[fit]] and [[fitByLang]]. */
  private def fitLocal(pairs: Seq[(String, Long)]): CharLmModel = {
    // an empty training slice would fit the degenerate model p(·) = 1
    // (every doc scores avg_nll = 0 and every quality cut silently
    // passes or drops EVERYTHING) — a config error, so fail loudly
    require(pairs.nonEmpty,
      "CharLm.fit: no gram counts — the training slice is empty or " +
        "all its documents are shorter than the model order in codepoints")
    // the model order is a property of the TABLE, not a caller argument
    // that could drift from it: every key has exactly `order` codepoints,
    // so infer it and whole-table-validate uniform width (the same
    // mixed-width rejection the signature/gram tables make)
    val orders = pairs.map { case (k, _) => k.codePointCount(0, k.length) }.distinct
    require(orders.length == 1,
      s"CharLm.fit: counts table mixes gram widths " +
        s"[${orders.sorted.mkString(", ")}] — corrupt or concatenated tables")
    val order = orders.head
    var t = 0L
    pairs.foreach(t += _._2)
    val denom = (t + pairs.length + 1).toDouble
    val m = new java.util.HashMap[String, java.lang.Long](pairs.length * 2)
    pairs.foreach { case (k, c) =>
      m.put(k, java.lang.Long.valueOf(nanoLn((c + 1.0) / denom)))
    }
    new CharLmModel(order, m, nanoLn(1.0 / denom))
  }

  /** `round(ln(x)·1e9)` half-away-from-zero — the oracle's
    * `CAST(ROUND(LN(x) * 1e9) AS BIGINT)`. */
  private def nanoLn(x: Double): Long = {
    val y = math.log(x) * 1e9
    (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
  }

  /** Score every document: `n_tri` (codepoint trigram count), `nll_nano`
    * (negated model log-prob sum in integer nanonats — exact, orderable,
    * thresholdable without any float), and `avg_nll` (nats per trigram,
    * rounded to 6 dp; NULL for documents shorter than 3 codepoints).
    * Lower avg_nll = more in-domain. One projection, no shuffle. */
  def score(
      docs: DataFrame, model: CharLmModel, textCol: String = "text"): DataFrame =
    score(docs, bcOf(model), textCol)

  /** [[score]] against an already-broadcast model — the reuse overload
    * for scoring many batches without re-shipping the vocabulary. */
  def score(
      docs: DataFrame, bc: Broadcast[CharLmModel], textCol: String): DataFrame = {
    // the score columns are appended by withColumn: a pre-existing input
    // column with one of these names would be silently REPLACED — fail
    // loudly instead (the reserved-column lesson from the streaming
    // filters in Dedup)
    val clash = docs.columns.filter(Set("n_tri", "nll_nano", "avg_nll"))
    require(clash.isEmpty,
      s"CharLm.score: input already has column(s) ${clash.mkString(", ")} — " +
        "these are the score output columns; rename them first")
    val nTri = greatest(length(col(textCol)) - (bc.value.order - 1), lit(0))
      .cast("int")
    docs
      .withColumn("n_tri", nTri)
      .withColumn("nll_nano", -CharLmFunctions.charLmScore(col(textCol), bc))
      .withColumn("avg_nll", avgNll(col("nll_nano"), col("n_tri")))
  }

  /** `round(nll_nano / (n_tri · 1e9), 6)`, NULL when `n_tri` = 0. Exposed
    * so persisted-score readers reconstruct the identical value. */
  def avgNll(nllNano: Column, nTri: Column): Column =
    when(nTri > 0,
      round(nllNano.cast("double") / (nTri.cast("double") * lit(1e9)), 6))

  /** STREAMING perplexity quality filter — the LM cell of the streaming
    * filter family ([[Dedup.exactCleanStream]] /
    * [[Dedup.minhashCleanStream]] / [[Dedup.simhashCleanStream]] /
    * [[Dedup.cosineCleanStream]]): pass through only the docs of a
    * micro-batch stream the broadcast model finds fluent enough
    * (`avg_nll` ≤ `maxAvgNll`, computed on the identical rounded form
    * [[score]] publishes, so the stream's verdicts are bit-equal to a
    * batch [[score]]+filter — q116 oracle-checks exactly that twin).
    * Stateless projection + filter: no join, no watermark, no state
    * store; docs shorter than 3 codepoints carry no trigram evidence and
    * are DROPPED (a quality filter admits on evidence, not absence).
    * Every admitted doc keeps all its columns. */
  def qualityCleanStream(
      newStream: DataFrame, bc: Broadcast[CharLmModel], maxAvgNll: Double,
      textCol: String = "text"): DataFrame = {
    val reserved = Seq("__n_tri", "__avg_nll")
    val clash = newStream.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"qualityCleanStream: input already has column(s) ${clash.mkString(", ")} — " +
        "these names are reserved scratch columns here; rename them first")
    newStream
      .withColumn("__n_tri", greatest(length(col(textCol)) - 2, lit(0)).cast("int"))
      .withColumn("__avg_nll",
        avgNll(-CharLmFunctions.charLmScore(col(textCol), bc), col("__n_tri")))
      .filter(col("__n_tri") > 0 && col("__avg_nll") <= maxAvgNll)
      .drop(reserved: _*)
  }

  /** Per-language gram counts in ONE scan of the labeled training
    * slice: (lang, tri, c), capped at the `maxVocab` most frequent
    * grams PER LANGUAGE (window over the vocab-bounded counts table,
    * partitioned by language — never a corpus-size window; ties by gram
    * ASC). The training artifact behind [[langId]]. */
  def trainCountsByLang(
      train: DataFrame, langCol: String = "lang", textCol: String = "text",
      maxVocab: Int = DefaultMaxVocab, order: Int = 3): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("tri").asc)
    train
      .select(col(langCol).as("lang"),
        explode(CharLmFunctions.charNgrams(col(textCol), order)).as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("c"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxVocab)
      .drop("__rn")
  }

  /** One [[CharLmModel]] per language from a [[trainCountsByLang]]
    * table (or its persisted parquet). Bounded collect: K·maxVocab. */
  def fitByLang(counts: DataFrame): Map[String, CharLmModel] = {
    val rows = counts
      .select(col("lang").cast("string"), col("tri").cast("string"),
        col("c").cast("long"))
      .collect()
    require(rows.nonEmpty, "CharLm.fitByLang: no gram counts")
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(2) >= 1,
        "CharLm.fitByLang: NULL lang/gram/count or count < 1 in the counts table")
    }
    rows.groupBy(_.getString(0)).map { case (lang, rs) =>
      lang -> fitLocal(rs.map(r => (r.getString(1), r.getLong(2))).toSeq)
    }
  }

  /** LM-based language identification — the CLD/fastText-class
    * approach: each language's char-n-gram model scores every document
    * in ONE fused text walk ([[graft.functions.CharLmScoreMulti]]), and
    * the document is labeled with the language whose model finds it
    * least surprising. All models share one gram order, so per-model
    * `nll_nano` sums are directly comparable as integers — the argmin
    * (ties broken by language ascending) is exact at any partition
    * order. Documents shorter than the order get `guess` NULL (no
    * evidence). Adds `guess`; keeps all input columns. Scale shape:
    * stateless broadcast projection, no shuffle, no join. */
  def langId(
      docs: DataFrame, modelsByLang: Map[String, CharLmModel],
      textCol: String = "text"): DataFrame = {
    require(modelsByLang.nonEmpty, "CharLm.langId: no models")
    require(!docs.columns.contains("guess"),
      "CharLm.langId: input already has column guess — rename it first")
    val langs = modelsByLang.keys.toSeq.sorted
    val models = langs.map(modelsByLang).toArray
    val orders = models.map(_.order).distinct
    require(orders.length == 1,
      s"CharLm.langId: models mix gram orders [${orders.sorted.mkString(", ")}]")
    val order = orders.head
    val bc = bcOf(models)
    val nTri = greatest(length(col(textCol)) - (order - 1), lit(0))
    val sums = CharLmFunctions.charLmScoreMulti(col(textCol), bc)
    // argmin over (nll, lang): struct comparison orders by nll first,
    // then language ascending — a total order, deterministic ties
    val candidates = array(langs.zipWithIndex.map { case (l, i) =>
      struct((-element_at(sums, i + 1)).as("nll"), lit(l).as("lang"))
    }: _*)
    docs.withColumn("guess",
      when(nTri > 0, array_min(candidates).getField("lang")))
  }

  /** CC-Net perplexity bucketing — the paper's defining output: split a
    * SCORED corpus (any frame with [[score]]'s `n_tri`/`avg_nll`
    * columns, char- or token-level) into `nBuckets` quality tiers
    * (head/middle/tail for 3) by average NLL.
    *
    * Scale shape (the q105 broadcast-offsets pattern, NOT a global
    * row_number window): docs bin by `round(avg_nll, binDp)`, the
    * BOUNDED histogram (≤ 10^binDp · range bins, thousands not
    * billions) is cumulated and collected, the nBuckets−1 threshold
    * bins are computed on the driver with exact integer math
    * (`cum ≥ ⌈n·k/nBuckets⌉`), and every row gets its tier from two
    * broadcast comparisons. Rows sharing the threshold bin share a
    * tier, so tier sizes are even only up to bin granularity —
    * deterministic, and the documented trade for avoiding a
    * corpus-wide sort. Docs with `n_tri` = 0 get tier NULL. Adds
    * `ppl_bucket` (1 = lowest perplexity); keeps all input columns. */
  def perplexityBuckets(
      scored: DataFrame, nBuckets: Int = 3, binDp: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(binDp >= 0 && binDp <= 6, s"binDp must be in [0, 6], got $binDp")
    val clash = scored.columns.filter(Set("ppl_bucket", "__bin"))
    require(clash.isEmpty,
      s"perplexityBuckets: input already has column(s) ${clash.mkString(", ")} — " +
        "rename them first")
    val binCol = round(col("avg_nll"), binDp)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__bin").asc)
    // single-partition window over the HISTOGRAM only — bounded
    val hist = scored.filter(col("n_tri") > 0)
      .groupBy(binCol.as("__bin")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(w))
      .select(col("__bin").cast("double"), col("__cum").cast("long"))
      .collect().sortBy(_.getDouble(0))
    if (hist.isEmpty)
      // nothing scorable: every doc is evidence-free -> tier NULL
      return scored.withColumn("ppl_bucket",
        when(col("n_tri") > 0, lit(1)).otherwise(lit(null).cast("int")))
    val n = hist.last.getLong(1)
    val thresholds = (1 until nBuckets).map { k =>
      val target = (n * k + nBuckets - 1) / nBuckets // ceil(n*k / nBuckets)
      hist.find(_.getLong(1) >= target).get.getDouble(0)
    }
    val tier = thresholds.foldLeft(lit(1)) { (acc, t) =>
      acc + (binCol > t).cast("int")
    }
    scored.withColumn("ppl_bucket", when(col("n_tri") > 0, tier))
  }

  private def bcOf[T](v: T)(implicit ct: scala.reflect.ClassTag[T])
      : Broadcast[T] =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(v)
}
