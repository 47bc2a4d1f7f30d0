package perfbench

import graft.core.GlmData
import graft.datasets.Datasets
import graft.estimators.{GlmParams, LogisticRegression}
import graft.functions.{BpeFunctions, BpeModel, QualityFunctions, TextHashFunctions}
import graft.ops.{Bpe, Dedup, Quality, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The planted structure of the generated corpus. Base documents come
  * first (ids 0 until `bases`); copies follow. By `b % 10` a base is:
  * 1 → source of an exact-duplicate group, 3 → source of a near-duplicate
  * group, 7 → low quality (short on even `b / 10`, symbol-heavy on odd),
  * 5 → first and 6 → second member of a semantic pair (embedding cosine
  * ≈ 0.97); every other base is unique. */
final class Corpus(val seed: Long, val bases: Int) extends Serializable {
  val vocab = 5000
  private val EmbeddingDim = 64
  /** (copy id, source base, exact?) for every planted copy. */
  val copies: IndexedSeq[(Int, Int, Boolean)] = {
    val src = (0 until bases).filter(b => b % 10 == 1 || b % 10 == 3)
      .flatMap(b => Seq.fill(1 + (b / 10) % 2)(b))
    src.zipWithIndex.map { case (b, k) => (bases + k, b, b % 10 == 1) }
  }
  val size: Int = bases + copies.size

  def lowQuality(b: Int): Boolean = b % 10 == 7
  /** Exact-duplicate groups: a base and its identical copies. */
  def exactGroups: Map[Int, Seq[Int]] =
    copies.filter(_._3).groupBy(_._2).map { case (b, cs) => b -> (b +: cs.map(_._1)) }
  /** (base, copy) for every near-duplicate copy (one word replaced). */
  def nearCopies: Seq[(Int, Int)] = copies.filterNot(_._3).map(c => (c._2, c._1))
  def semanticPairs: Seq[(Int, Int)] =
    (0 until bases).filter(_ % 10 == 5).filter(_ + 1 < bases).map(b => (b, b + 1))
  def uniques: Seq[Int] =
    (0 until bases).filter(b => Set(0, 2, 4, 8, 9).contains(b % 10))
  def label(b: Int): Double = (Gen.bits(seed, b, 1) & 1L).toDouble

  private def word(k: Int): String = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val sb = new StringBuilder
    var x = k + 17
    var syll = 0
    while (syll < 2 || x > 0) {
      sb += cons(x % cons.length); x /= cons.length
      sb += vows(x % vows.length); x /= vows.length
      syll += 1
    }
    sb.toString
  }

  private val stops = Quality.GopherStopWords

  /** Text of a base document: a stop word every seventh word (so every
    * good document passes the Gopher stop-word rule), class-topical words
    * and uniform filler, or the planted low-quality shapes. */
  def baseText(b: Int): String = {
    val len = if (lowQuality(b) && (b / 10) % 2 == 0) 20 else 60 + Gen.below(seed, b, 2, 41)
    val topic = if (label(b) > 0) 0 else 300
    val ws = (0 until len).map { j =>
      val r = Gen.uniform(seed, b, 10 + 3 * j)
      val k = Gen.below(seed, b, 11 + 3 * j, 300)
      if (lowQuality(b) && (b / 10) % 2 == 1 && j % 3 == 0) "#"
      else if (j % 7 == 0) stops((j / 7 + k) % stops.size)
      else if (r < 0.45) word(topic + k)
      else word(600 + Gen.below(seed, b, 12 + 3 * j, vocab))
    }
    ws.mkString(" ")
  }

  def text(id: Int): String =
    if (id < bases) baseText(id)
    else {
      val (_, b, exact) = copies(id - bases)
      val t = baseText(b)
      if (exact) t
      else {
        val ws = t.split(" ")
        val pos = 5 + Gen.below(seed, id, 3, ws.length - 10)
        ws(pos) = word(600 + vocab + Gen.below(seed, id, 4, 1000))
        ws.mkString(" ")
      }
    }

  def docLabel(id: Int): Double = if (id < bases) label(id) else label(copies(id - bases)._2)

  /** Unit embeddings; the second member of a semantic pair is the first
    * turned by about 14 degrees (cosine ≈ 0.97). */
  def embedding(id: Int): Array[Double] = {
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def rnd(r: Int) = unit(Array.tabulate(EmbeddingDim)(j => Gen.normal(seed ^ 0x5eedL, r, j)))
    if (id < bases && id % 10 == 6) {
      val u = rnd(id - 1)
      val w = rnd(id)
      val d = u.zip(w).map { case (a, c) => a * c }.sum
      val orth = unit(w.zip(u).map { case (c, a) => c - d * a })
      unit(u.zip(orth).map { case (a, o) => a + 0.25 * o })
    } else rnd(id)
  }
}

/** One curation pass per operation: Gopher quality gate → exact dedup →
  * MinHash candidates → Jaccard verification → one document per cluster
  * → semantic dedup of the survivors' embeddings → hashed bag-of-words
  * quality classifier (sparse lbfgs, fit and score) → BPE token count. */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val corpus = new Corpus(ctx.seed, if (ctx.tiny) 1000 else 3000)
  private val docsDir = ctx.dir("curation_docs")
  private val embDir = ctx.dir("curation_emb")
  private val docsPath = docsDir.getPath
  private val embPath = embDir.getPath
  def inputRows: Long = corpus.size.toLong
  def inputDirs: Seq[java.io.File] = Seq(docsDir, embDir)
  private val files = 8
  private val bands = 8
  private val numHashes = 16
  private val jaccardMin = 0.8
  private val cosineMin = 0.9
  // stated recall floors: semDedup at its default one-cell probe misses
  // pairs that straddle two IVF cells; MinHash banding misses a few
  // near-duplicates (see CHANGES.md for the measured rates)
  private val recallFloor = 0.8
  private val nearRecallFloor = 0.98
  private val accuracyFloor = 0.9
  private var centroids: Array[Array[Double]] = _
  private var bpe: BpeModel = _
  private var tokens = -1L
  val cycle: IndexedSeq[String] = IndexedSeq("pass")
  // after one warm-up pass the next pass still runs ~15 % slower than the
  // ones after it (10.7 s against 9.1-9.4 s): the JIT is not done yet
  override def warmUpCycles: Int = 2

  def setup(): Unit = {
    val c = corpus
    val ids = spark.sparkContext.range(0L, c.size.toLong, 1L, files).map(_.toInt)
    spark.createDataFrame(ids.map(i => Row(i.toLong, c.text(i), c.docLabel(i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("label", DoubleType))))
      .write.mode("overwrite").parquet(docsPath)
    spark.createDataFrame(ids.map(i => Row(i.toLong, c.embedding(i).toSeq)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = false)))))
      .write.mode("overwrite").parquet(embPath)
    centroids = ctx.call("ops", "trainIvfCentroids")(Similarity.trainIvfCentroids(
      spark.read.parquet(embPath), "embedding", kCells = 16, iters = 5, seed = 7L))
    bpe = ctx.call("ops", "trainBpe")(
      Bpe.trainMerges(Bpe.wordCounts(spark.read.parquet(docsPath)), numMerges = 200))
  }

  def release(): Unit = ()

  def prepareChecks(): Unit = ()

  private def docs = spark.read.parquet(docsPath)
  private def emb = spark.read.parquet(embPath)

  private def gated(d: DataFrame) =
    ctx.call("ops", "gopherQuality")(Quality.gopherQuality(d))
      .filter(col("gopher_keep")).select("doc_id", "text", "label")
  private def exact(d: DataFrame) =
    ctx.call("ops", "exact")(Dedup.exact(d, "doc_id", Seq("text"))).drop("n_copies")
  private def candidates(d: DataFrame) =
    ctx.call("ops", "minhashCandidates")(
      Dedup.minhashCandidates(d, "doc_id", "text", bands = bands, numHashes = numHashes))
  private def verified(d: DataFrame, cands: DataFrame) =
    ctx.call("ops", "jaccardVerify")(Dedup.jaccardVerify(d, cands, "doc_id", "text", jaccardMin))
  private def keepOne(d: DataFrame, pairs: DataFrame) =
    ctx.call("ops", "keepOnePerCluster")(Dedup.keepOnePerCluster(d, "doc_id", pairs))
  private def semKept(kept: DataFrame) =
    ctx.call("ops", "semDedup")(Dedup.semDedup(
      emb.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "embedding", centroids, threshold = cosineMin))
  private def bow(d: DataFrame) =
    ctx.call("datasets", "hashedBow")(Datasets.hashedBow(d, "text", numFeatures = 1024))
  // a fixed number of L-BFGS iterations (zero tolerance), so the fit does
  // the same work on every seed
  private def classifier =
    new LogisticRegression(GlmParams(solver = "lbfgs", maxIter = 30, tol = 0.0))

  def run(op: String): OpResult = {
    val e = exact(gated(docs))
    val kept = keepOne(e, verified(e, candidates(e)))
    val sem = semKept(kept)
    val curated = kept.join(sem.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // collecting the survivors fills the cache, so the fit below times
      // the classifier alone and not the dedup steps upstream of it
      val ids = curated.select("doc_id").collect().map(_.getLong(0).toInt).toSet
      val features = bow(curated)
      val model = classifier
      val ((_, fitS), fitSpark) =
        ctx.measured("estimators", "fit.lbfgs")(Stats.time(model.fit(features)))
      val (acc, scoreS) = Stats.time(ctx.call("estimators", "score")(model.score(features)))
      val tok = ctx.call("ops", "bpeEncode")(
        Bpe.encode(curated, bpe).agg(sum(col("n_bpe"))).head().getLong(0))
      OpResult("lbfgs", fitS, scoreS, ids.size.toLong, corpus.size.toLong,
        () => check(ids, acc, tok), fitSpark)
    } finally curated.unpersist()
  }

  private def check(ids: Set[Int], acc: Double, tok: Long): Option[String] = {
    val c = corpus
    val badGroups = c.exactGroups.count { case (_, g) => g.count(ids.contains) != 1 }
    val near = c.nearCopies
    val nearRecall = near.count { case (_, cp) => !ids.contains(cp) }.toDouble / near.size
    val nearLost = near.count { case (b, _) => !ids.contains(b) }
    val lostUnique = c.uniques.count(u => !ids.contains(u))
    val lowKept = (0 until c.bases).count(b => c.lowQuality(b) && ids.contains(b))
    val pairs = c.semanticPairs
    val recall = pairs.count { case (a, b) => ids.contains(a) != ids.contains(b) }.toDouble / pairs.size
    val lostPairs = pairs.count { case (a, b) => !ids.contains(a) && !ids.contains(b) }
    ctx.record("ops.near_dup_recall", nearRecall)
    ctx.record("ops.semantic_recall", recall)
    if (tokens < 0) tokens = tok
    if (badGroups > 0) Some(s"$badGroups planted exact-duplicate groups not reduced to one document")
    else if (nearLost > 0) Some(s"$nearLost near-duplicate sources dropped")
    else if (nearRecall < nearRecallFloor) Some(f"near-duplicate recall $nearRecall%.4f below $nearRecallFloor")
    else if (lostUnique > 0)
      Some(s"$lostUnique planted-unique documents dropped, e.g. ${c.uniques.filterNot(ids.contains).take(3).mkString(", ")}")
    else if (lowKept > 0) Some(s"$lowKept planted low-quality documents kept")
    else if (lostPairs > 0) Some(s"$lostPairs semantic pairs lost both members")
    else if (recall < recallFloor) Some(f"semantic-pair recall $recall%.4f below $recallFloor")
    else if (acc < accuracyFloor) Some(f"classifier accuracy $acc%.4f below $accuracyFloor")
    else if (tok != tokens) Some(s"BPE token count $tok differs from the first pass ($tokens)")
    else None
  }

  def layerPasses(): Unit = {
    // ops: each step materialised on its own, in pipeline order
    def step[T](name: String)(body: => T): T = {
      val (r, s) = Stats.time(body)
      ctx.record(s"ops.${name}_ms", s * 1000)
      r
    }
    def held(d: DataFrame) = { val p = d.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    val g = step("gopher")(held(gated(docs)))
    val e = step("exact")(held(exact(g)))
    val cands = step("minhash_candidates")(held(candidates(e)))
    val nCands = cands.count()
    val ver = step("jaccard_verify")(held(verified(e, cands)))
    val nVer = ver.count()
    ctx.record("ops.minhash_candidates", nCands.toDouble)
    ctx.record("ops.minhash_verified", nVer.toDouble)
    ctx.record("ops.minhash_precision", if (nCands > 0) nVer.toDouble / nCands else 0.0)
    ctx.record("ops.cluster_edges", nVer.toDouble)
    val kept = step("keep_one")(held(keepOne(e, ver)))
    val sem = step("semdedup")(held(semKept(kept)))
    val curated = held(kept.join(sem.select("doc_id"), Seq("doc_id"), "left_semi"))
    val (features, bowS) = Stats.time(held(bow(curated)))
    ctx.record("datasets.hashed_bow_ms", bowS * 1000)
    step("classifier") { val m = classifier.fit(features); m.score(features) }
    step("bpe_encode")(Bpe.encode(curated, bpe).agg(sum(col("n_bpe"))).head())
    // linalg: sparse passes over the classifier's matrix
    val data = GlmData.fromDF(features).addIntercept.persist()
    data.rows.count()
    Layers.linalgPasses(ctx, data, dense = false)
    data.unpersist()
    spark.sharedState.cacheManager.clearCache()
    // functions: each native expression the pass uses, over cached input
    TextHashFunctions.register(spark)
    val bc = spark.sparkContext.broadcast(bpe)
    val text = docs.select("text")
    Layers.functionPass(ctx, text, "minhash_sig", expr(s"minhash_sig(text, $numHashes)"))
    Layers.functionPass(ctx, text, "gopher_stats",
      QualityFunctions.gopherStats(col("text"), Quality.GopherStopWords))
    Layers.functionPass(ctx, text, "bpe_encode", BpeFunctions.bpeEncode(col("text"), bc))
    Layers.functionPass(ctx, emb.select("embedding"), "ivf_cell",
      Similarity.ivfCell(col("embedding"), centroids))
    bc.destroy()
  }
}
